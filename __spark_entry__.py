"""Driver contract for the spark-graft builder (PySpark target).

Spark queries exercise z_rad_spark's operators over a transcripts table
derived deterministically from the driver's ``events`` table (the same
derivation is embedded in every DuckDB oracle, so both engines compute
over identical rows — see z_rad_spark/transcripts.py).

Conventions shared by every (query, oracle) pair so value-hashes match:
floats rounded to 6 decimals on both sides, timestamps emitted as BIGINT
epoch microseconds (Spark unix_micros == DuckDB epoch_us), counts cast to
BIGINT, identical column names via explicit aliases.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from z_rad_spark.config import FeatureConfig
from z_rad_spark.extractor import extract_features
from z_rad_spark.kernels.texture import (
    GLCM_NAMES,
    GLDZM_NAMES,
    GLRLM_NAMES,
    GLSZM_NAMES,
    NGLDM_NAMES,
    NGTDM_NAMES,
)
from z_rad_spark.operators import firstorder_sql
from z_rad_spark.operators.asof import asof_state
from z_rad_spark.operators.backfill import backfill
from z_rad_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard, simhash
from z_rad_spark.operators.sessionize import with_lag_lead, with_sessions
from z_rad_spark.operators.skew import _spread
from z_rad_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from z_rad_spark.operators.text import (
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_token_counts,
)
from z_rad_spark.session import memo_plan
from z_rad_spark.transcripts import load_transcripts, with_signal

CUTOFFS = ["2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"]
END = "2024-02-15 00:00:00"  # after all test data: "as of conversation end"
GAP_SECONDS = 1800.0
N_BINS = 5

# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

# events -> transcripts (+ signal) — byte-compatible with
# z_rad_spark.transcripts.from_events / with_signal("token_count")
DUCK_T = """
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         CASE WHEN event_type IN ('click','view') THEN 'user'
              WHEN event_type = 'error' THEN 'system'
              WHEN event_type = 'purchase' THEN 'tool'
              ELSE 'assistant' END AS role,
         TRIM(REPEAT(event_type || ' ', CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS INT))) AS text,
         CASE WHEN event_type = 'purchase' THEN 'checkout'
              WHEN event_type = 'signup' THEN 'register'
              ELSE CAST(NULL AS STRING) END AS tool,
         ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
"""

DUCK_GRID = (
    "(VALUES "
    + ", ".join(f"(TIMESTAMP '{c}')" for c in CUTOFFS)
    + ") grid_v(as_of)"
)

DUCK_NORM_DOC = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
DUCK_TOKS = f"string_split({DUCK_NORM_DOC}, ' ')"


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token_signal=True emits signal as the direct 1+abs(floor(value))%9
    # arithmetic (provably equal to with_signal's size(split(text)) on the
    # derived text, and literally the oracles' DUCK_T definition), so
    # queries that never touch text prune the per-turn string generation
    return load_transcripts(spark, sf_dir, token_signal=True)


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread=False for queries whose whole plan is one cheap map-side-
    # combined aggregation or narrow projection: there the pre-shuffle
    # only adds an exchange (and at production split counts it is a no-op
    # anyway — _spread never fires on a multi-split scan)
    def build() -> DataFrame:
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return _spread(d, "doc_id") if spread else d

    return memo_plan(spark, ("docs", sf_dir, spread), build)


def _emb(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    def build() -> DataFrame:
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        if spread:
            e = _spread(e, "vec_id")
        return e.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )

    return memo_plan(spark, ("emb", sf_dir, spread), build)


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    """Output normalization shared with the oracles: NaN -> NULL (SQL has
    no NaN), round to 6dp, +0.0 to fold -0.0 into +0.0.

    Built as ONE select of parsed SQL strings rather than a withColumn
    per column: each withColumn is a full analyzer pass plus several
    py4j round-trips, which at 26 float columns cost ~1 s of driver time
    per query build (profiled r6). The parsed expression tree is
    identical to the previous Column-API chain, so values are unchanged."""
    want = set(cols)
    out = []
    for c in df.columns:
        if c in want:
            d = f"CAST(`{c}` AS DOUBLE)"
            out.append(
                f"(round(CASE WHEN isnan({d}) THEN CAST(NULL AS DOUBLE) "
                f"ELSE {d} END, 6) + 0.0D) AS `{c}`"
            )
        else:
            out.append(f"`{c}`")
    return df.selectExpr(*out)


def _us(col: str, alias: str) -> F.Column:
    # parquet timestamps load as TIMESTAMP_NTZ; session tz is UTC so the
    # cast to TIMESTAMP is wall-clock-preserving and matches epoch_us
    return F.unix_micros(F.col(col).cast("timestamp")).cast("long").alias(alias)


# ---------------------------------------------------------------------------
# queries: transcripts core
# ---------------------------------------------------------------------------


def q_transcripts(spark, sf_dir):
    """Per-turn text equality + stable ordering check: the derived table."""
    return _t(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        _us("ts", "ts_us"),
        F.col("signal").cast("double").alias("token_count"),
    )


def q_sessionize(spark, sf_dir):
    s = with_sessions(_t(spark, sf_dir), GAP_SECONDS)
    return _r6(
        s.select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.col("session_id").cast("int").alias("session_id"),
            "gap_sec",
        ),
        ["gap_sec"],
    )


def q_lag_lead(spark, sf_dir):
    s = with_lag_lead(_t(spark, sf_dir), ["signal"], offsets=(1, 2))
    return s.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("signal").alias("tok"),
        F.col("signal_lag1").alias("tok_lag1"),
        F.col("signal_lead1").alias("tok_lead1"),
        F.col("signal_lag2").alias("tok_lag2"),
        F.col("signal_lead2").alias("tok_lead2"),
        (F.col("signal") - F.col("signal_lag1")).alias("tok_delta"),
    )


def q_rolling_1h(spark, sf_dir):
    """Trailing 1-hour RANGE-frame aggregates per turn (time-keyed window,
    no self-join)."""
    from z_rad_spark.operators.sessionize import with_rolling_time_window

    out = with_rolling_time_window(_t(spark, sf_dir), 3600.0)
    return _r6(
        out.select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            "roll_sum",
            "roll_n",
            "roll_mean",
        ),
        ["roll_sum", "roll_mean"],
    )


def q_decay_sum(spark, sf_dir):
    """Exponentially time-decayed activity (tau = 1h): one stateful O(n)
    pass per conversation in the Arrow kernel; the oracle is the O(n^2)
    closed form."""
    from z_rad_spark.operators.sessionize import with_time_decay_sum

    out = with_time_decay_sum(_t(spark, sf_dir), 3600.0)
    return _r6(out.select("conv_id", "turn_idx", "decay_sum"), ["decay_sum"])


def q_vocab(spark, sf_dir):
    """Per-conversation vocabulary size: explode + exact distinct count."""
    t = _t(spark, sf_dir)
    toks = t.select("conv_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return toks.groupBy("conv_id").agg(
        F.countDistinct("tok").cast("long").alias("n_vocab"),
        F.count("*").cast("long").alias("n_tokens"),
    )


def q_asof_state(spark, sf_dir):
    out = asof_state(_t(spark, sf_dir), spark, CUTOFFS, ["signal", "role", "turn_idx"])
    return out.select(
        "conv_id",
        _us("as_of", "as_of_us"),
        F.col("signal").alias("last_tok"),
        F.col("role").alias("last_role"),
        F.col("turn_idx").cast("int").alias("last_turn_idx"),
    )


def q_asof_enrich(spark, sf_dir):
    """General two-table as-of join: each order probes the latest transcript
    state of its (deterministically mapped) conversation at its probe time —
    the sort-merge union-tag as-of between two real tables."""
    from z_rad_spark.operators.asof import asof_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base_us = 1704067200000000  # 2024-01-01 UTC
    probes = orders.select(
        F.concat(F.lit("c"), (F.col("o_custkey") % 150).cast("string")).alias("conv_id"),
        F.timestamp_micros(
            F.lit(base_us) + (F.col("o_orderkey") % 720).cast("long") * F.lit(3_600_000_000)
        ).alias("as_of"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice"),
    )
    out = asof_join(_t(spark, sf_dir), probes, ["signal", "turn_idx"])
    return _r6(
        out.select(
            "conv_id",
            _us("as_of", "as_of_us"),
            "o_orderkey",
            "o_totalprice",
            F.col("signal").alias("last_tok"),
            F.col("turn_idx").cast("int").alias("last_turn_idx"),
        ),
        ["o_totalprice", "last_tok"],
    )


def q_backfill_nn(spark, sf_dir):
    out = backfill(_t(spark, sf_dir), 86400, "signal", method="nn")
    return out.select("conv_id", _us("grid_ts", "grid_us"), F.col("signal").alias("tok_locf"))


def q_backfill_linear(spark, sf_dir):
    out = backfill(_t(spark, sf_dir), 86400, "signal", method="linear")
    return _r6(
        out.select("conv_id", _us("grid_ts", "grid_us"), F.col("signal").alias("tok_lin")),
        ["tok_lin"],
    )


def q_backfill_mask(spark, sf_dir):
    """MaskResampler analogue: per grid step, fraction of eligible turns,
    thresholded at 0.5 (partial-volume semantics)."""
    from z_rad_spark.operators.backfill import backfill_eligible_frac

    t = _t(spark, sf_dir).withColumn("eligible", F.col("role").isin("user", "assistant"))
    out = backfill_eligible_frac(t, 86400, 0.5)
    return _r6(
        out.select("conv_id", _us("grid_ts", "grid_us"), "eligible_frac", "eligible_bin"),
        ["eligible_frac"],
    )


def q_backfill_cubic(spark, sf_dir):
    """Non-uniform Catmull-Rom regrid (the BSpline-order-3 analogue,
    zrad/preprocessing/interpolation.py:24-54): cubic Hermite through the
    bracketing turns, finite-difference tangents from the second
    bracketing turn per side, linear-style edge fallbacks."""
    out = backfill(_t(spark, sf_dir), 86400, "signal", method="cubic")
    return _r6(
        out.select("conv_id", _us("grid_ts", "grid_us"), F.col("signal").alias("tok_cubic")),
        ["tok_cubic"],
    )


def q_backfill_gauss(spark, sf_dir):
    """Gaussian-kernel regrid (sitkGaussian analogue, interpolation.py:
    24-54): kernel-weighted mean of turns within 3 sigma, scatter-shaped
    (bounded per-turn cell explode + one groupBy, no per-key window)."""
    from z_rad_spark.operators.backfill import backfill_gaussian

    out = backfill_gaussian(_t(spark, sf_dir), 86400)
    return _r6(
        out.select("conv_id", _us("grid_ts", "grid_us"), F.col("signal").alias("tok_gauss")),
        ["tok_gauss"],
    )


def q_decay_norm(spark, sf_dir):
    """PET-SUV-correction analogue: per-turn exponential decay correction
    anchored at the conversation start (per-entity scalar broadcast +
    pure column math, zrad/io/pet_suv.py:358-521 mapping)."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("conv_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    age_sec = (ts_us - F.min(ts_us).over(w)) / 1e6
    suv = F.col("signal") * F.exp(F.lit(-0.6931471805599453) * age_sec / F.lit(6586.2))
    return _r6(
        t.select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            suv.alias("suv"),
        ),
        ["suv"],
    )


def q_suv_norm(spark, sf_dir):
    """PET SUV normalization variants (zrad/io/pet_suv.py:58-206): all
    six body-model factors (BW / Du Bois BSA / Morgan LBM / James-128 /
    Janmahasatian / IBW) as pure column math over a per-conversation
    attribute frame, plus the mean signal normalized by body weight —
    the per-entity-scalar broadcast shape of q_decay_norm."""
    from z_rad_spark.operators.suv import synth_patient_attrs, with_suv_factors

    t = _t(spark, sf_dir)
    fac = with_suv_factors(synth_patient_attrs(t))
    sig = t.groupBy("conv_id").agg(F.avg("signal").alias("_sig"))
    out = fac.join(sig, "conv_id").select(
        "conv_id",
        "sex",
        "weight_kg",
        "height_cm",
        "f_bw",
        "f_bsa",
        "f_lbm",
        "f_lbm128",
        "f_janma",
        "f_ibw",
        (F.col("_sig") / F.col("f_bw")).alias("sig_per_bw"),
    )
    return _r6(
        out, ["weight_kg", "height_cm", "f_bw", "f_bsa", "f_lbm", "f_lbm128",
              "f_janma", "f_ibw", "sig_per_bw"]
    )


def q_tool_names(spark, sf_dir):
    """Structure-name listing analogue (zrad/io/dicom.py:367-383)."""
    return _t(spark, sf_dir).where(F.col("tool").isNotNull()).select("tool").distinct()


def q_mask_union(spark, sf_dir):
    """Mask union across ROIs analogue (np.bitwise_or,
    zrad/gui/prep_tab.py:114-119): bool_or grouped aggregation."""
    t = _t(spark, sf_dir)
    return t.groupBy("conv_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.expr("bool_or(tool IS NOT NULL)").alias("any_tool"),
        F.expr("bool_or(role = 'system')").alias("any_system"),
    ).select("conv_id", _us("day", "day_us"), "any_tool", "any_system")


def q_dedup_turns(spark, sf_dir):
    """Duplicate-slice removal analogue (zrad/io/dicom.py:56-87): the table
    unioned with itself dedups back to one row per (conv_id, turn_idx)."""
    t = _t(spark, sf_dir).select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "text")
    return t.unionByName(t).dropDuplicates(["conv_id", "turn_idx"])


def q_json_props(spark, sf_dir):
    """Semi-structured ingest: extract a JSON field from event metadata and
    aggregate it per entity (get_json_object, JVM-side)."""
    from z_rad_spark.operators.text import with_json_field

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = with_json_field(ev, "props", "$.k", "k")
    return _r6(
        ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
            F.count("k").cast("long").alias("n_k"),
            F.sum("k").cast("long").alias("k_sum"),
            F.avg("k").alias("k_avg"),
            F.max("k").cast("long").alias("k_max"),
        ),
        ["k_avg"],
    )


def q_rollup(spark, sf_dir):
    t = _t(spark, sf_dir)
    return _r6(
        t.groupBy("role", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("signal").alias("tok_sum"),
            F.avg("signal").alias("tok_avg"),
        )
        .select("role", _us("day", "day_us"), "n_turns", "tok_sum", "tok_avg"),
        ["tok_sum", "tok_avg"],
    )


# ---------------------------------------------------------------------------
# queries: point-in-time feature families
# ---------------------------------------------------------------------------

_STATS_COLS = [
    "stat_mean",
    "stat_var",
    "stat_skew",
    "stat_kurt",
    "stat_median",
    "stat_min",
    "stat_p10",
    "stat_p90",
    "stat_max",
    "stat_iqr",
    "stat_range",
    "stat_mad",
    "stat_rmad",
    "stat_medad",
    "stat_cov",
    "stat_qcod",
    "stat_energy",
    "stat_rms",
]


def q_stats_asof(spark, sf_dir):
    out = firstorder_sql.stats_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select("conv_id", _us("as_of", "as_of_us"), "n_turns", *_STATS_COLS), _STATS_COLS
    )


_HIST_COLS = [
    "ih_mean",
    "ih_var",
    "ih_median",
    "ih_min",
    "ih_max",
    "ih_entropy",
    "ih_uniformity",
    "ih_mode",
    "ih_max_grad",
    "ih_max_grad_g",
    "ih_min_grad",
    "ih_min_grad_g",
]


DAILY_CUTOFFS = [f"2024-01-{d:02d} 00:00:00" for d in range(2, 31)]


def q_stats_daily(spark, sf_dir):
    """Production-shaped backfill sweep: the 18 statistics at a 29-day
    daily cutoff grid (one pass, no per-cutoff rescans)."""
    out = firstorder_sql.stats_asof(_t(spark, sf_dir), spark, DAILY_CUTOFFS)
    return _r6(
        out.select("conv_id", _us("as_of", "as_of_us"), "n_turns", *_STATS_COLS), _STATS_COLS
    )


def q_hist_asof(spark, sf_dir):
    out = firstorder_sql.hist_asof(_t(spark, sf_dir), spark, CUTOFFS, N_BINS)
    return _r6(out.select("conv_id", _us("as_of", "as_of_us"), *_HIST_COLS), _HIST_COLS)


def q_hist_daily(spark, sf_dir):
    """Histogram features at the 29-day backfill grid — proves the
    compacted fbn_hist_asof path at grid scale (amplification bounded by
    distinct-values x cutoffs, never turns x cutoffs)."""
    out = firstorder_sql.hist_asof(_t(spark, sf_dir), spark, DAILY_CUTOFFS, N_BINS)
    return _r6(out.select("conv_id", _us("as_of", "as_of_us"), *_HIST_COLS), _HIST_COLS)


def _extract(spark, sf_dir, families, **kw):
    cfg = FeatureConfig(
        families=families,
        aggr_dim="3D",
        aggr_method="MERG",
        gap_seconds=GAP_SECONDS,
        min_turns=1,
        **kw,
    )
    return extract_features(_t(spark, sf_dir), cfg, [END])


def q_glcm(spark, sf_dir):
    cols = GLCM_NAMES
    out = _extract(spark, sf_dir, ("glcm",), lags=(1,))
    sel = [F.col(f"{c}_3D_comb").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_glrlm(spark, sf_dir):
    cols = GLRLM_NAMES
    out = _extract(spark, sf_dir, ("glrlm",))
    sel = [F.col(f"{c}_3D_comb").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngldm(spark, sf_dir):
    cols = NGLDM_NAMES
    out = _extract(spark, sf_dir, ("ngldm",))
    sel = [F.col(f"{c}_3D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngtdm(spark, sf_dir):
    cols = NGTDM_NAMES
    out = _extract(spark, sf_dir, ("ngtdm",))
    sel = [F.col(f"{c}_3D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngldm_25d(spark, sf_dir):
    """NGLDM 2.5D: dependence counts within gap sessions, matrices summed
    across sessions before the formulas."""
    cols = NGLDM_NAMES
    cfg = FeatureConfig(
        families=("ngldm",), aggr_dim="2.5D", aggr_method="MERG",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2_5D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngldm_2d_avg(spark, sf_dir):
    """NGLDM 2D AVER: the 17 formulas computed per session (voxel count =
    session size), plain-meaned across sessions."""
    cols = NGLDM_NAMES
    cfg = FeatureConfig(
        families=("ngldm",), aggr_dim="2D", aggr_method="AVER",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngtdm_2d_avg(spark, sf_dir):
    """NGTDM 2D AVER: the 5 formulas per session, plain-meaned across
    sessions; neighbourless (single-turn) sessions excluded like the
    reference's DataStructureError skip (ngtdm.py:133-134)."""
    cols = NGTDM_NAMES
    cfg = FeatureConfig(
        families=("ngtdm",), aggr_dim="2D", aggr_method="AVER",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_ngtdm_25d(spark, sf_dir):
    """NGTDM 2.5D: neighbourhoods bounded by gap sessions, [n_i, s_i]
    matrices summed across sessions."""
    cols = NGTDM_NAMES
    cfg = FeatureConfig(
        families=("ngtdm",), aggr_dim="2.5D", aggr_method="MERG",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2_5D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


_SHAPE_COLS = [
    "shape_n_turns",
    "shape_duration_sec",
    "shape_gap_mean",
    "shape_gap_std",
    "shape_gap_max",
    "shape_n_sessions",
    "shape_role_entropy",
    "shape_tool_frac",
]


def q_shape(spark, sf_dir):
    out = _extract(spark, sf_dir, ("shape",))
    return _r6(out.select("conv_id", *_SHAPE_COLS), _SHAPE_COLS)


def q_glcm_dist(spark, sf_dir):
    """Distributed GLCM (window pairs + cell groupBy): the scale path for
    giant conversations — same values, same oracle as q_glcm."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    out = texture_features_distributed(_t(spark, sf_dir), "glcm")
    return _r6(out.select("conv_id", *GLCM_NAMES), GLCM_NAMES)


def q_glrlm_dist(spark, sf_dir):
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = GLRLM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "glrlm")
    return _r6(out.select("conv_id", *cols), cols)


def q_ngldm_dist(spark, sf_dir):
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = NGLDM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "ngldm")
    return _r6(out.select("conv_id", *cols), cols)


def q_glszm(spark, sf_dir):
    """GLSZM: in 1-D, zones == runs (26-connectivity degenerates to run
    adjacency), so values coincide with GLRLM under different names —
    an honest structural property, verified by its own oracle."""
    cols = GLSZM_NAMES
    out = _extract(spark, sf_dir, ("glszm",))
    sel = [F.col(f"{c}_3D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_gldzm(spark, sf_dir):
    """GLDZM: zones keyed by min distance to the conversation border."""
    cols = GLDZM_NAMES
    out = _extract(spark, sf_dir, ("gldzm",))
    sel = [F.col(f"{c}_3D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_glcm_2d_avg(spark, sf_dir):
    """2D AVER aggregation: per-session GLCM matrices, features per matrix,
    plain mean across sessions (reference glcm.py:437-456 semantics:
    feature-then-average, NaN-propagating)."""
    cfg = FeatureConfig(
        families=("glcm",), aggr_dim="2D", aggr_method="AVER", lags=(1,),
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2D_avg").alias(c) for c in GLCM_NAMES]
    return _r6(out.select("conv_id", *sel), GLCM_NAMES)


def q_glcm_2d_wavg(spark, sf_dir):
    """2D AVER with ROI-fraction slice weighting (extractor.py:55-56
    semantics: weight = session turn share, normalized like np.average)."""
    cfg = FeatureConfig(
        families=("glcm",), aggr_dim="2D", aggr_method="AVER", lags=(1,),
        slice_weight=True, gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2D_avg").alias(c) for c in GLCM_NAMES]
    return _r6(out.select("conv_id", *sel), GLCM_NAMES)


def q_glcm_25d_merg(spark, sf_dir):
    """2.5D MERG aggregation: pairs bounded by session borders, matrices
    summed across sessions BEFORE normalizing (glcm.py:479-484 semantics:
    merge-then-feature)."""
    cfg = FeatureConfig(
        families=("glcm",), aggr_dim="2.5D", aggr_method="MERG", lags=(1,),
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2_5D_comb").alias(c) for c in GLCM_NAMES]
    return _r6(out.select("conv_id", *sel), GLCM_NAMES)


def _q_glcm_variant(spark, sf_dir, aggr_dim, aggr_method, lags, suffix, **kw):
    cfg = FeatureConfig(
        families=("glcm",), aggr_dim=aggr_dim, aggr_method=aggr_method, lags=lags,
        gap_seconds=GAP_SECONDS, min_turns=1, **kw,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_{suffix}").alias(c) for c in GLCM_NAMES]
    return _r6(out.select("conv_id", *sel), GLCM_NAMES)


def q_glcm_3d_aver(spark, sf_dir):
    """3D AVER over the lag set {1,2,3}: features per lag-direction matrix,
    plain NaN-propagating mean (glcm.py:497-502)."""
    return _q_glcm_variant(spark, sf_dir, "3D", "AVER", (1, 2, 3), "3D_avg")


def q_glcm_2d_slice_merg(spark, sf_dir):
    """2D SLICE_MERG, lags {1,2}: per session, matrices summed over
    directions BEFORE normalizing, features per session, mean
    (glcm.py:458-477)."""
    return _q_glcm_variant(spark, sf_dir, "2D", "SLICE_MERG", (1, 2), "2D_comb")


def q_glcm_25d_dirmerg(spark, sf_dir):
    """2.5D DIR_MERG, lags {1,2}: matrices summed over sessions per
    direction, features per direction, mean (glcm.py:486-495)."""
    return _q_glcm_variant(spark, sf_dir, "2.5D", "DIR_MERG", (1, 2), "2_5D_avg")


def q_glcm_salted(spark, sf_dir):
    """Skew path: salt-bucketed pair extraction with k-overlap borders —
    exact (same oracle as q_glcm); turns_per_bucket=16 forces real splits
    at test scale."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    out = texture_features_distributed(_t(spark, sf_dir), "glcm", turns_per_bucket=16)
    return _r6(out.select("conv_id", *GLCM_NAMES), GLCM_NAMES)


def q_glrlm_25d(spark, sf_dir):
    """GLRLM 2.5D MERG: runs bounded by session borders, counts pooled
    across sessions before the formulas."""
    cfg = FeatureConfig(
        families=("glrlm",), aggr_dim="2.5D", aggr_method="MERG",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2_5D_comb").alias(c) for c in GLRLM_NAMES]
    return _r6(out.select("conv_id", *sel), GLRLM_NAMES)


def q_glrlm_2d_avg(spark, sf_dir):
    """GLRLM 2D AVER: 16 formulas per session (voxel count = session
    size), plain mean across sessions."""
    cfg = FeatureConfig(
        families=("glrlm",), aggr_dim="2D", aggr_method="AVER",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    sel = [F.col(f"{c}_2D_avg").alias(c) for c in GLRLM_NAMES]
    return _r6(out.select("conv_id", *sel), GLRLM_NAMES)


def q_glrlm_salted(spark, sf_dir):
    """Skew path for run-lengths: distributed RLE with cross-bucket run
    merge — exact (same oracle as q_glrlm); turns_per_bucket=16 forces
    runs to straddle bucket borders at test scale."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = GLRLM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "glrlm", turns_per_bucket=16)
    return _r6(out.select("conv_id", *cols), cols)


def q_ngldm_salted(spark, sf_dir):
    """Skew path for dependence counts: 1-row overlap on both sides of
    every bucket border — exact (same oracle as q_ngldm)."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = NGLDM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "ngldm", turns_per_bucket=16)
    return _r6(out.select("conv_id", *cols), cols)


_RESEG_COLS = ["stat_mean", "stat_var", "stat_median", "stat_min", "stat_max", "stat_cov", "stat_energy"]


def q_reseg_stats(spark, sf_dir):
    """Resegmentation order contract: range filter on the raw signal FIRST,
    then mean±2σ outlier filter on the post-range population
    (zrad/preprocessing/resegmentation.py:230-231); min-turn guard nulls."""
    cfg = FeatureConfig(
        families=("stats",), intensity_range=(2.0, 8.0), outlier_sigma=2.0,
        gap_seconds=GAP_SECONDS, min_turns=3,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    return _r6(
        out.select("conv_id", F.col("n_eligible").cast("long").alias("n_eligible"), *_RESEG_COLS),
        _RESEG_COLS,
    )


def q_fbs_hist(spark, sf_dir):
    """Fixed-bin-size discretization (floor((x-min)/w)+1, observed-min
    anchor) feeding the histogram family."""
    out = _extract(spark, sf_dir, ("hist",), bin_size=2.0)
    return _r6(out.select("conv_id", *_HIST_COLS), _HIST_COLS)


def q_ivh_fbs(spark, sf_dir):
    """IVH with fixed_bin_size intensities: bin centers min+(g-0.5)*w,
    threshold sweep step w (discretization.py:359-444)."""
    out = _extract(spark, sf_dir, ("ivh",), ivh_method="fixed_bin_size", ivh_bin_size=2.0)
    return _r6(out.select("conv_id", *_IVH_COLS), _IVH_COLS)


def q_moran(spark, sf_dir):
    """Opt-in O(n^2) temporal autocorrelation (Moran's I / Geary's C with
    1/|dt| weights) — morphology_correlation analogue."""
    out = _extract(spark, sf_dir, ("shape",), enable_moran=True)
    return _r6(
        out.select("conv_id", "shape_moran_i", "shape_geary_c"),
        ["shape_moran_i", "shape_geary_c"],
    )


_SHAPE_FULL_COLS = [
    "shape_n_turns", "shape_n_eligible", "shape_duration_sec",
    "shape_turn_rate", "shape_gap_mean", "shape_gap_std", "shape_gap_max",
    "shape_n_sessions", "shape_session_len_mean", "shape_role_entropy",
    "shape_tool_frac", "shape_intensity_com_shift",
]


def q_shape_full(spark, sf_dir):
    """All 12 conversation-shape features (the morphology-slot block)."""
    out = _extract(spark, sf_dir, ("shape",))
    return _r6(out.select("conv_id", *_SHAPE_FULL_COLS), _SHAPE_FULL_COLS)


def _q_filter(spark, sf_dir, build):
    out = build(_t(spark, sf_dir))
    return _r6(
        out.select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "signal_filt"
        ),
        ["signal_filt"],
    )


def q_filter_log(spark, sf_dir):
    """LoG filter as a pure window expression (taps shared with the
    grouped-map kernel and the oracle)."""
    from z_rad_spark.operators.filtering import with_log_filter

    return _q_filter(spark, sf_dir, lambda t: with_log_filter(t, sigma=1.5))


def q_filter_laws(spark, sf_dir):
    """Laws S5 response + energy map (rolling mean of |response|)."""
    from z_rad_spark.operators.filtering import with_laws_filter

    return _q_filter(
        spark, sf_dir, lambda t: with_laws_filter(t, kernel="S5", invariance="avg", energy_support=5)
    )


def q_filter_gabor(spark, sf_dir):
    from z_rad_spark.operators.filtering import with_gabor_filter

    return _q_filter(spark, sf_dir, lambda t: with_gabor_filter(t, sigma=2.0, wavelength=4.0))


def q_filter_wavelet(spark, sf_dir):
    from z_rad_spark.operators.filtering import with_wavelet_filter

    return _q_filter(
        spark, sf_dir, lambda t: with_wavelet_filter(t, wavelet="db2", band="H", level=1)
    )


def q_filter_wavelet_db4(spark, sf_dir):
    """Longer-support wavelet family (db4, 8 taps) through the same
    declarative window path — the QMF-derived bank from
    kernels/filters.wavelet_bank (reference accepts any pywt family,
    zrad/filtering/wavelet.py:127-304)."""
    from z_rad_spark.operators.filtering import with_wavelet_filter

    return _q_filter(
        spark, sf_dir, lambda t: with_wavelet_filter(t, wavelet="db4", band="H", level=1)
    )


def q_gldzm_dist(spark, sf_dir):
    """Distributed GLDZM: declarative runs + border distances from global
    positions (same oracle as q_gldzm)."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = GLDZM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "gldzm")
    return _r6(out.select("conv_id", *cols), cols)


def q_ngtdm_dist(spark, sf_dir):
    """Distributed NGTDM: lag/lead neighbour means + per-level groupBy."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    out = texture_features_distributed(_t(spark, sf_dir), "ngtdm")
    return _r6(out.select("conv_id", *NGTDM_NAMES), NGTDM_NAMES)


def q_ngtdm_salted(spark, sf_dir):
    """Skew path: same plan with per-bucket windows (1-row overlaps)."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    out = texture_features_distributed(_t(spark, sf_dir), "ngtdm", turns_per_bucket=16)
    return _r6(out.select("conv_id", *NGTDM_NAMES), NGTDM_NAMES)


def q_filter_mean(spark, sf_dir):
    """Declarative mean filter (window sum / support, zero-pad semantics)."""
    from z_rad_spark.operators.filtering import with_mean_filter

    out = with_mean_filter(_t(spark, sf_dir), support=5)
    return _r6(
        out.select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), F.col("signal_filt")
        ),
        ["signal_filt"],
    )


_IVH_COLS = ["ivh_v10", "ivh_v90", "ivh_i10", "ivh_i90", "ivh_diff_v10_v90", "ivh_diff_i10_i90"]


def q_ivh(spark, sf_dir):
    out = _extract(spark, sf_dir, ("ivh",))
    return _r6(out.select("conv_id", *_IVH_COLS), _IVH_COLS)


def q_local_peaks(spark, sf_dir):
    out = _extract(spark, sf_dir, ("local",), local_radius=3)
    return _r6(out.select("conv_id", "loc_peak_loc", "loc_peak_glob"), ["loc_peak_loc", "loc_peak_glob"])


def q_extract_filtered(spark, sf_dir):
    """Flagship filtered path, value-verified: stats + histogram families
    over a LoG-filtered feature signal with leakage-safe per-cutoff FBN(8)
    discretization and the min-turn guard. The filter is applied INSIDE the
    cutoff slice, so near-cutoff values differ per as_of — the oracle
    convolves each (conv, as_of) prefix independently."""
    from z_rad_spark.kernels.firstorder import HIST_NAMES, STATS_NAMES

    cfg = FeatureConfig(
        families=("stats", "hist"),
        filter_name="log",
        filter_params=(("sigma", 1.5),),
        n_bins=8,
        min_turns=3,
    )
    out = extract_features(_t(spark, sf_dir), cfg, CUTOFFS)
    cols = list(STATS_NAMES) + list(HIST_NAMES)
    return _r6(
        out.select(
            "conv_id",
            _us("as_of", "as_of_us"),
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_eligible").cast("long").alias("n_eligible"),
            F.col("n_bins").cast("long").alias("n_bins"),
            *cols,
        ),
        cols,
    )


def q_flagship_slice(spark, sf_dir):
    """Value-level verification of the flagship's ROI semantics: the same
    config as q_extract_full (system turns masked out), checking a
    representative column per family — eligibility holes must break runs,
    skip co-occurrence pairs (lags 1..4, MERG), and shrink the stats
    population, while sessions/roles still see every turn."""
    cfg = FeatureConfig(eligible_roles=("user", "assistant", "tool"), gap_seconds=GAP_SECONDS)
    out = extract_features(_t(spark, sf_dir), cfg, CUTOFFS)
    cols = ["stat_mean", "stat_energy", "ih_entropy", "ih_mode",
            "shape_n_sessions", "shape_role_entropy", "cm_contrast", "cm_joint_entr",
            "rlm_sre", "rlm_rl_entr"]
    return _r6(
        out.select(
            "conv_id",
            _us("as_of", "as_of_us"),
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_eligible").cast("long").alias("n_eligible"),
            "stat_mean", "stat_energy", "ih_entropy", "ih_mode",
            "shape_n_sessions", "shape_role_entropy",
            F.col("cm_contrast_3D_comb").alias("cm_contrast"),
            F.col("cm_joint_entr_3D_comb").alias("cm_joint_entr"),
            F.col("rlm_sre_3D_comb").alias("rlm_sre"),
            F.col("rlm_rl_entr_3D_comb").alias("rlm_rl_entr"),
        ),
        cols,
    )


def q_extract_full(spark, sf_dir):
    """Flagship: every family at three cutoffs, VALUE-verified end to end —
    the oracle (oracle_sql_defs.flagship_full_sql) replays the full kernel
    per (conv_id, as_of) with eligibility-hole semantics for all 156
    feature columns. Output normalized like every gate query: epoch-us
    key, NaN -> NULL, 6dp rounding.

    The normalization is ONE selectExpr of parsed SQL strings, not 156
    py4j-built Column trees: the r3 gate variant spent 4-8 s per call in
    DRIVER-side tree construction/analysis (execution was flat) — parsed
    expressions cut the gate overhead to ~0.3 s over the raw flagship
    measure (the plan-cost rule documented in BASELINE.md round-3)."""
    cfg = FeatureConfig(eligible_roles=("user", "assistant", "tool"), gap_seconds=GAP_SECONDS)
    out = extract_features(_t(spark, sf_dir), cfg, CUTOFFS)
    feat_cols = [
        c for c in out.columns
        if c not in ("conv_id", "as_of", "n_turns", "n_eligible", "n_bins")
    ]
    return out.selectExpr(
        "conv_id",
        "CAST(unix_micros(CAST(as_of AS TIMESTAMP)) AS BIGINT) AS as_of_us",
        "CAST(n_turns AS BIGINT) AS n_turns",
        "CAST(n_eligible AS BIGINT) AS n_eligible",
        "CAST(n_bins AS BIGINT) AS n_bins",
        *[
            # nanvl == the old when(isnan, NULL) branch; NULL passes through
            f"round(nanvl(CAST(`{c}` AS DOUBLE), CAST(NULL AS DOUBLE)), 6)"
            f" + CAST(0.0 AS DOUBLE) AS `{c}`"
            for c in feat_cols
        ],
    )


# ---------------------------------------------------------------------------
# queries: documents / embeddings pipeline ops
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir, spread=False)).select(
        "text_hash", F.col("keep_id").cast("long").alias("keep_id"), "dup_count"
    )


def q_minhash_pairs(spark, sf_dir):
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


def q_dup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH pairs -> connected components (iterative
    min-label propagation; oracle = recursive-CTE transitive closure)."""
    from z_rad_spark.operators.dedup import dup_clusters

    out = dup_clusters(_docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64)
    return out.select(F.col("doc_id").cast("long"), F.col("cluster_id").cast("long"))


def q_ngram_jaccard(spark, sf_dir):
    out = ngram_jaccard(_docs(spark, sf_dir), n=3, threshold=0.5)
    return _r6(
        out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"),
        ["jaccard"],
    )


def q_containment(spark, sf_dir):
    """Asymmetric n-gram containment (dedup.ngram_containment): the
    subsumption detector Jaccard misses — both directional fractions
    plus the min-denominator max, thresholded at 0.8. Exact integer
    shingle counts, three single divisions — oracle-replayable."""
    from z_rad_spark.operators.dedup import ngram_containment

    out = ngram_containment(_docs(spark, sf_dir), n=3, threshold=0.8)
    return _r6(
        out.select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            "contain_a",
            "contain_b",
            "containment",
        ),
        ["contain_a", "contain_b", "containment"],
    )


def q_dup_survivors(spark, sf_dir):
    """Canonical-document selection after near-dup clustering
    (dedup.dup_survivors): every doc assigned a cluster (singletons
    self-cluster), one survivor per cluster by (max tokens, min id) —
    a groupBy MIN over the (-n_toks, id) struct, no per-cluster window.
    The oracle replays the LSH clustering via recursive CTE and the
    pick via a rank window on the tiny cluster frame."""
    from z_rad_spark.operators.dedup import dup_survivors

    out = dup_survivors(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("cluster_id").cast("long"),
        "n_toks",
        F.col("survivor_doc_id").cast("long"),
        "is_survivor",
        "n_members",
    )


def q_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir), bits=16).select(
        F.col("doc_id").cast("long"), F.col("simhash").cast("long")
    )


def q_hash_sample(spark, sf_dir):
    """Reproducible 30% corpus sample via salted-md5 threshold."""
    from z_rad_spark.operators.dedup import hash_sample

    out = hash_sample(_docs(spark, sf_dir), rate=0.3, salt="s1")
    return out.select(F.col("doc_id").cast("long"))


def q_corpus_clean(spark, sf_dir):
    """Composed cleaning pipeline: exact-dedup representative ∩ quality
    thresholds ∩ language filter — the shape of a real pretraining-corpus
    cleaning pass, as one declarative plan."""
    from z_rad_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    q = with_quality(docs)
    lang = with_lang_id(docs).select("doc_id", "lang_pred")
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    toks = with_token_counts(docs).select("doc_id", "n_tokens_ws")
    out = (
        q.join(keep, "doc_id")
        .join(lang, "doc_id")
        .join(toks, "doc_id")
        .where(
            (F.col("n_tokens_ws") >= 5)
            & (F.col("stopword_ratio") >= 0.05)
            & (F.col("lang_pred") != "und")
        )
        .select(F.col("doc_id").cast("long"), "lang_pred")
    )
    return out


def q_text_quality(spark, sf_dir):
    out = with_quality(_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("long"),
        "n_chars_q",
        "punct_ratio",
        "digit_ratio",
        "upper_ratio",
        "mean_word_len",
        "stopword_ratio",
    )


def q_lang_id(spark, sf_dir):
    return with_lang_id(_docs(spark, sf_dir)).select(F.col("doc_id").cast("long"), "lang_pred")


def q_token_stats(spark, sf_dir):
    return with_token_counts(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "n_tokens_ws", "n_tokens_bpe"
    )


def q_fingerprint(spark, sf_dir):
    return with_fingerprint(_docs(spark, sf_dir), n=4).select(
        F.col("doc_id").cast("long"), "fingerprint"
    )


def q_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        "cosine",
        F.col("rank").cast("int"),
    )


def q_mmr(spark, sf_dir):
    """MMR-diversified top-5 over an exact cosine top-20 pool
    (similarity.mmr_topk, lambda=0.7): greedy rerank in a grouped-map
    kernel whose every dot product is the engine-wide sequential-fold
    idiom, ties on the smaller id — the oracle replays picks and scores
    bit-for-bit with unrolled argmax steps."""
    from z_rad_spark.operators.similarity import mmr_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = mmr_topk(emb, queries, k=5, pool=20, lam=0.7)
    out = out.select("query_id", "vec_id", "mmr_rank", "rel", "score")
    return _r6(out, ["rel", "score"])


def q_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic codebook (first 16 vectors), 4-probe search."""
    from z_rad_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, n_centroids=16, n_probe=4, k=5)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        "cosine",
        F.col("rank").cast("int"),
    )


def q_ann_recall(spark, sf_dir):
    """ANN quality evaluation: recall@5 and reciprocal rank of the IVF
    index against the exact-cosine baseline, per query — the continuous
    index-health check a production ANN deployment samples; cost bounded
    by queries x k. Both rankings and the exact-integer-ratio metrics
    replay in the oracle."""
    from z_rad_spark.operators.similarity import retrieval_metrics

    return retrieval_metrics(
        q_ivf_topk(spark, sf_dir), q_cosine_topk(spark, sf_dir), k=5
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        "n_truth",
        "n_hit",
        "recall_at_k",
        "rr_at_k",
    )


def q_langid_kappa(spark, sf_dir):
    """Cohen's kappa for the language-ID heuristic (text.langid_kappa):
    one single-row aggregate of exact diagonal + marginal counts, fixed
    chains over the literal label grid — oracle-replayable."""
    from z_rad_spark.operators.text import langid_kappa

    out = langid_kappa(_docs(spark, sf_dir))
    out = out.select("n", "accuracy", "p_e", "kappa")
    return _r6(out, ["accuracy", "p_e", "kappa"])


def q_von_neumann(spark, sf_dir):
    """Von Neumann randomness ratio per conversation
    (profile.von_neumann_ratio): exact integer MSSD + variance
    sufficient statistics, three divisions — oracle-replayable."""
    from z_rad_spark.operators.profile import von_neumann_ratio

    out = von_neumann_ratio(_t(spark, sf_dir))
    out = out.select("conv_id", "n", "mssd", "variance", "vn")
    return _r6(out, ["mssd", "variance", "vn"])


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary fraction per document against the corpus
    top-200 vocabulary (text.oov_rate): two-pass TF, heavy-hitter
    vocab cut, broadcast membership join — exact integers,
    oracle-replayable."""
    from z_rad_spark.operators.text import oov_rate

    out = oov_rate(_docs(spark, sf_dir), vocab_k=200)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_oov",
        "oov_frac",
    )
    return _r6(out, ["oov_frac"])


def q_max_drawdown(spark, sf_dir):
    """Maximum signal drawdown per conversation (profile.max_drawdown):
    running-peak window, exact integer (dd, -ordinal) argmax — no float
    comparisons; the fraction is one division. Oracle-replayable."""
    from z_rad_spark.operators.profile import max_drawdown

    out = max_drawdown(_t(spark, sf_dir))
    out = out.select("conv_id", "n", "peak", "max_dd", "dd_frac")
    return _r6(out, ["dd_frac"])


def q_role_token_ratios(spark, sf_dir):
    """Per-conversation assistant/user token balance
    (profile.role_token_ratios): conditional exact-integer token sums,
    one division — oracle-replayable."""
    from z_rad_spark.operators.profile import role_token_ratios

    out = role_token_ratios(_t(spark, sf_dir))
    out = out.select("conv_id", "n_turns", "tokens_num", "tokens_den", "token_ratio")
    return _r6(out, ["token_ratio"])


def q_template_groups(spark, sf_dir):
    """Source-level template detection (dedup.template_groups, 8-token
    prefix, min group 3): one (source, prefix-hash) count joined back
    co-partitioned — oracle-replayable."""
    from z_rad_spark.operators.dedup import template_groups

    out = template_groups(_docs(spark, sf_dir), prefix_tokens=8, min_group=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "template_size",
        "is_templated",
    )


def q_truncate_middle(spark, sf_dir):
    """Head+tail middle-drop truncation at a 64-token budget
    (curation.truncate_middle): array slice/concat, integer budget
    split — oracle-replayable."""
    from z_rad_spark.operators.curation import truncate_middle

    out = truncate_middle(_docs(spark, sf_dir), max_tokens=64)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "was_truncated",
        "text_trunc",
        "n_tokens_out",
    )


def q_signal_transitions(spark, sf_dir):
    """First-order Markov entropies of the signal sequence per
    conversation (profile.signal_transition_entropy): exact transition
    counts, ordered folds over the sorted compacted cell lists,
    H(cur|prev) = H(joint) - H(prev) — oracle-replayable."""
    from z_rad_spark.operators.profile import signal_transition_entropy

    out = signal_transition_entropy(_t(spark, sf_dir))
    out = out.select(
        "conv_id", "n_trans", "n_cells",
        "joint_entropy", "prev_entropy", "cond_entropy",
    )
    return _r6(out, ["joint_entropy", "prev_entropy", "cond_entropy"])


def q_code_switching(spark, sf_dir):
    """Code-switching screen per document (text.with_code_switching):
    fixed-priority marker tags, adjacent-tag switch counts over the
    ordered tagged subsequence — oracle-replayable."""
    from z_rad_spark.operators.text import with_code_switching

    out = with_code_switching(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tagged",
        "n_langs",
        "n_switches",
        "switch_rate",
    )
    return _r6(out, ["switch_rate"])


def q_oscillation(spark, sf_dir):
    """Signal direction-flip statistics per conversation
    (profile.oscillation_stats): exact integer move signs, flips
    between consecutive nonzero moves — oracle-replayable."""
    from z_rad_spark.operators.profile import oscillation_stats

    out = oscillation_stats(_t(spark, sf_dir))
    out = out.select("conv_id", "n_turns", "n_moves", "n_flips", "flip_rate")
    return _r6(out, ["flip_rate"])


def q_time_weighted_mean(spark, sf_dir):
    """Time-weighted signal mean per conversation
    (profile.time_weighted_mean): hold-duration weights in exact
    microseconds, integer products, one division — oracle-replayable."""
    from z_rad_spark.operators.profile import time_weighted_mean

    out = time_weighted_mean(_t(spark, sf_dir))
    out = out.select("conv_id", "n_held", "held_us", "twm", "plain_mean")
    return _r6(out, ["twm", "plain_mean"])


def q_weighted_sample(spark, sf_dir):
    """Per-row Bernoulli sampling with the quality-classifier
    probability as the keep rate (dedup.weighted_sample over
    curation.quality_classifier): salted-md5 uniform vs the raw prob —
    reproducible across engines, oracle-replayable."""
    from z_rad_spark.operators.curation import quality_classifier
    from z_rad_spark.operators.dedup import weighted_sample

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    out = weighted_sample(scored, "prob", key_col="doc_id", salt="w1")
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("prob") + F.lit(0.0)).alias("prob"),
        "u",
        "keep",
    )
    return _r6(out, ["prob", "u"])


def q_role_style(spark, sf_dir):
    """Pairwise role style distance (text.role_style_distance): hashed
    64-bucket token-count profiles, exact-integer cosine per role pair
    — oracle-replayable."""
    from z_rad_spark.operators.text import role_style_distance

    out = role_style_distance(_t(spark, sf_dir), dims=64)
    out = out.select("role_a", "role_b", "cosine", "dist")
    return _r6(out, ["cosine", "dist"])


def q_event_uplift(spark, sf_dir):
    """Per-conversation event study around the first system (error) turn
    (profile.event_uplift): struct-MIN anchor, strict before/after
    windows on the (ts, turn_idx) order, exact integer sums —
    oracle-replayable."""
    from z_rad_spark.operators.profile import event_uplift

    out = event_uplift(_t(spark, sf_dir), event_role="system")
    out = out.select(
        "conv_id", "has_event", "n_before", "n_after",
        "mean_before", "mean_after", "uplift",
    )
    return _r6(out, ["mean_before", "mean_after", "uplift"])


def q_readability(spark, sf_dir):
    """Flesch-proxy readability per document (text.with_readability):
    sentence/word/vowel-cluster counts, fixed formula chain —
    oracle-replayable."""
    from z_rad_spark.operators.text import with_readability

    out = with_readability(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_sentences",
        "n_words",
        "words_per_sentence",
        "syllables_per_word",
        "flesch",
    )
    return _r6(out, ["words_per_sentence", "syllables_per_word", "flesch"])


def q_corpus_report(spark, sf_dir):
    """One-row corpus datasheet (curation.corpus_report): doc/token/char
    totals, distinct langs/sources, exact-dup rate, mean lengths — one
    aggregation pass, oracle-replayable."""
    from z_rad_spark.operators.curation import corpus_report

    out = corpus_report(_docs(spark, sf_dir))
    return _r6(out, ["dup_rate", "mean_tokens", "mean_chars"])


def q_length_buckets(spark, sf_dir):
    """Power-of-two sequence-length buckets + padding-waste fraction
    (curation.length_buckets, 16..4096): fixed integer CASE chain, one
    division — oracle-replayable. Docs longer than the max bucket show
    a negative pad_frac (the truncation signal)."""
    from z_rad_spark.operators.curation import length_buckets

    out = length_buckets(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "bucket_ceil",
        "pad_frac",
    )
    return _r6(out, ["pad_frac"])


def q_dialog_acts(spark, sf_dir):
    """Heuristic dialog-act tags per turn + per-conversation mix
    (sessionize.with_dialog_acts / dialog_act_rates): narrow literal
    membership + one regexp, exact integer rollup — oracle-replayable."""
    from z_rad_spark.operators.sessionize import dialog_act_rates

    out = dialog_act_rates(_t(spark, sf_dir))
    out = out.select(
        "conv_id", "n_turns", "n_question", "n_command",
        "question_rate", "command_rate",
    )
    return _r6(out, ["question_rate", "command_rate"])


def q_vocab_turnover(spark, sf_dir):
    """Weekly top-20 vocabulary turnover per role (text.vocab_turnover):
    heavy-hitter sets per (role, epoch-week), lagged Jaccard over the
    tiny (group, week) frame — exact set sizes, oracle-replayable."""
    from z_rad_spark.operators.text import vocab_turnover

    out = vocab_turnover(_t(spark, sf_dir), k=20, group_col="role")
    out = out.select("role", "week", "n_top", "n_common", "turnover")
    return _r6(out, ["turnover"])


def q_quantile_transform(spark, sf_dir):
    """Per-role midrank ECDF quantile transform
    (encoding.quantile_transform): u = (2*cum - c)/(2n) on the
    compacted value histogram, broadcast back — ties share one u,
    oracle-replayable."""
    from z_rad_spark.operators.encoding import quantile_transform

    out = quantile_transform(_t(spark, sf_dir), group_col="role")
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        F.col("signal").cast("double").alias("signal"),
        "u",
    )
    return _r6(out, ["signal", "u"])


def q_kfold_encode(spark, sf_dir):
    """K-fold out-of-fold target encoding (5 folds, conversation-grouped
    md5 fold hash; encoding.with_kfold_target_encoding): the CV-regime
    member of the encoder family — exact (key, fold) integer sums,
    broadcast back, oracle-replayable."""
    from z_rad_spark.operators.encoding import with_kfold_target_encoding

    out = with_kfold_target_encoding(_t(spark, sf_dir), k=5)
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        "fold",
        "n_oof",
        "te_oof",
        "te_oof_smooth",
    )
    return _r6(out, ["te_oof", "te_oof_smooth"])


def q_tfidf_embed(spark, sf_dir):
    """TF-IDF-weighted hashed embedding (text.tfidf_hashed_embedding,
    16 dims): exact tf/df integers, token-sorted per-bucket weight
    folds, fixed-chain L2 norm — oracle-replayable."""
    from z_rad_spark.operators.text import tfidf_hashed_embedding

    out = tfidf_hashed_embedding(_docs(spark, sf_dir), dims=16)
    cols = [f"e{d:02d}" for d in range(16)]
    out = out.select(F.col("doc_id").cast("long").alias("doc_id"), *cols)
    return _r6(out, cols)


def q_volume_anomaly(spark, sf_dir):
    """Daily volume anomaly flags per role (profile.volume_anomaly):
    modified z-score against the group's own day-count distribution —
    sorted-pick median/MAD over the bounded day grid, broadcast back,
    oracle-replayable."""
    from z_rad_spark.operators.profile import volume_anomaly

    out = volume_anomaly(_t(spark, sf_dir), group_col="role")
    out = out.select("role", "day", "n", "med", "mad", "mz", "is_anomaly")
    return _r6(out, ["med", "mad", "mz"])


def q_loop_detection(spark, sf_dir):
    """Generation-loop detector (dedup.loop_detection): the most
    repeated 3-gram per document with its repeat count and slot
    fraction — (doc, gram) counts, per-doc MIN over (-count, gram),
    exact integers, oracle-replayable."""
    from z_rad_spark.operators.dedup import loop_detection

    out = loop_detection(_docs(spark, sf_dir), n=3)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams",
        "max_repeat",
        "top_gram",
        "loop_frac",
    )
    return _r6(out, ["loop_frac"])


def q_langid_eval(spark, sf_dir):
    """Language-ID confusion matrix + accuracy against the labeled lang
    column (text.langid_eval): one aggregation to |langs|^2 cells,
    exact integer ratios — oracle-replayable."""
    from z_rad_spark.operators.text import langid_eval

    out = langid_eval(_docs(spark, sf_dir))
    out = out.select("lang", "lang_pred", "n", "row_frac", "accuracy")
    return _r6(out, ["row_frac", "accuracy"])


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup screen (dedup.incremental_dup_candidates):
    a synthetic delta (every 10th doc, text appended, ids offset by 1e6)
    screened against the full corpus — cross-side LSH candidates only,
    both-sides bucket gate before any list, oracle-replayable."""
    from z_rad_spark.operators.dedup import incremental_dup_candidates

    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker")).alias("text"),
    )
    out = incremental_dup_candidates(
        new, docs, n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return out.select(
        F.col("new_id").cast("long"), F.col("corpus_id").cast("long")
    )


def q_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (curation.snapshot_diff): two deterministic
    synthetic snapshots of the documents table (old drops doc_id%11==0,
    new drops %13==0 and rewrites %7==0), classified added/removed/
    changed/unchanged via one full-outer id join + normalized-md5
    compare — oracle-replayable."""
    from z_rad_spark.operators.curation import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    out = snapshot_diff(old, new)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "status",
        "old_hash",
        "new_hash",
    )


def q_loss_spans(spark, sf_dir):
    """ChatML render + assistant loss-mask character spans
    (sessionize.render_with_loss_spans): pure integer offset arithmetic
    over the sorted turn array, spans serialized 's-e,...' — the
    substring contract is pytest-proven; the oracle replays offsets
    with window sums."""
    from z_rad_spark.operators.sessionize import render_with_loss_spans

    out = render_with_loss_spans(_t(spark, sf_dir))
    return out.select(
        "conv_id", "n_turns", "n_chars", "n_mask_spans", "mask_chars",
        "spans", "rendered",
    )


def q_zipf(spark, sf_dir):
    """Zipf's-law OLS fit per language over the top-100 tokens
    (text.zipf_fit): bounded heavy-hitter rank table, four OLS sums
    folded over the rank-sorted list — oracle-replayable."""
    from z_rad_spark.operators.text import zipf_fit

    out = zipf_fit(_docs(spark, sf_dir), k=100)
    out = out.select("lang", "k_used", "zipf_slope", "zipf_intercept")
    return _r6(out, ["zipf_slope", "zipf_intercept"])


def q_markup_density(spark, sf_dir):
    """Structural-noise screens per document (text.with_markup_density):
    URL/e-mail/code-fence/HTML counts + densities — narrow regexp_count
    expressions, oracle-replayable."""
    from z_rad_spark.operators.text import with_markup_density

    out = with_markup_density(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_urls",
        "n_emails",
        "n_fences",
        "n_html",
        "url_density",
        "html_density",
    )
    return _r6(out, ["url_density", "html_density"])


def q_bucketed_join(spark, sf_dir):
    """Shuffle-free co-located join via bucketed tables
    (layout.write_bucketed + a plain join): both sides persisted
    bucketed on conv_id (one file per bucket, sorted), then joined with
    zero Exchange (plan pinned in tests/test_plans.py). The value gate
    proves result parity with the plain join the oracle replays.
    FIXED paths + overwrite mode: repeated sweeps/bench runs reuse the
    same /tmp footprint instead of accumulating orphaned dirs."""
    from z_rad_spark.layout import write_bucketed

    t = _t(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        F.col("signal").cast("double").alias("signal"),
    )
    dim = t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.col("signal").cast("long")).cast("long").alias("sum_signal"),
    )
    base = "/tmp/zrs_gate_bucket"
    write_bucketed(t, f"{base}/facts", "zrs_gate_facts", "conv_id", 8,
                   sort_cols=("conv_id", "ts_us", "turn_idx"))
    write_bucketed(dim, f"{base}/dim", "zrs_gate_dim", "conv_id", 8,
                   sort_cols=("conv_id",))
    out = spark.table("zrs_gate_facts").join(spark.table("zrs_gate_dim"), "conv_id")
    out = out.select(
        "conv_id", "turn_idx", "ts_us", "signal", "n_turns", "sum_signal"
    )
    return _r6(out, ["signal"])


def q_changepoint(spark, sf_dir):
    """Most-likely mean changepoint per conversation
    (profile.changepoint): the argmax of the INTEGER statistic
    |n*S_t - t*S_n| over exact prefix sums — not one float comparison
    in the selection; oracle-replayable."""
    from z_rad_spark.operators.profile import changepoint

    out = changepoint(_t(spark, sf_dir))
    out = out.select(
        "conv_id", "n_turns", "cp_turn", "cp_ts_us",
        "mean_left", "mean_right", "mean_gap", "g_stat",
    )
    return _r6(out, ["mean_left", "mean_right", "mean_gap", "g_stat"])


def q_rolling_median(spark, sf_dir):
    """Rolling median + MAD over the trailing 5 turns
    (sessionize.with_rolling_median): bounded frame collect, sorted
    element picks — oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_rolling_median

    out = with_rolling_median(_t(spark, sf_dir), k=5)
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "n_in_frame",
        "roll_median",
        "roll_mad",
    )
    return _r6(out, ["roll_median", "roll_mad"])


def q_topic_boundaries(spark, sf_dir):
    """TextTiling-style topic-shift boundaries (k=3 blocks, Jaccard
    cohesion < 0.15) per conversation
    (sessionize.with_topic_boundaries): bounded k-row window frames,
    distinct-set integer sizes, one division — oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_topic_boundaries

    out = with_topic_boundaries(_t(spark, sf_dir), k=3, threshold=0.15)
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "cohesion",
        "is_boundary",
    )
    return _r6(out, ["cohesion"])


def q_flag_retries(spark, sf_dir):
    """Retry/double-send flags inside conversations (dedup.flag_retries,
    5-minute window): one lag window over (conv, content-hash), exact
    integer microsecond gaps — oracle-replayable."""
    from z_rad_spark.operators.dedup import flag_retries

    out = flag_retries(_t(spark, sf_dir), window_seconds=300.0)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "text",
        "is_retry",
    )


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per conversation (profile.theil_sen_trend,
    opt-in O(n^2) like Moran's I): pairwise-slope median over the turn
    ordinal + residual-median intercept — each slope one exact-integer
    division, medians sorted picks, oracle-replayable."""
    from z_rad_spark.operators.profile import theil_sen_trend

    out = theil_sen_trend(_t(spark, sf_dir))
    out = out.select("conv_id", "n_turns", "sen_slope", "sen_intercept")
    return _r6(out, ["sen_slope", "sen_intercept"])


def q_pair_corr(spark, sf_dir):
    """Per-conversation Pearson coupling between adjacent user->assistant
    signals (profile.pair_signal_correlation): five exact-long pair
    statistics, integer-numerator closed form — oracle-replayable."""
    from z_rad_spark.operators.profile import pair_signal_correlation

    out = pair_signal_correlation(_t(spark, sf_dir))
    out = out.select("conv_id", "n_pairs", "mean_prompt", "mean_response", "r")
    return _r6(out, ["mean_prompt", "mean_response", "r"])


def q_feature_cross(spark, sf_dir):
    """Hashing-trick (role x tool) interaction feature
    (encoding.with_feature_cross): salted-md5 first-8-hex modulo 256 —
    the engine-portable hash convention, zero shuffle, oracle replays
    buckets exactly."""
    from z_rad_spark.operators.encoding import with_feature_cross

    out = with_feature_cross(_t(spark, sf_dir), ("role", "tool"), 256, salt="x1")
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        "tool",
        "cross_bucket",
    )


def q_calibration(spark, sf_dir):
    """Reliability table + ECE for the hashed quality classifier against
    the lang=='en' outcome (encoding.calibration_bins): bins floor the
    6dp-rounded probability, per-bin confidence folds c*prob6 over the
    sorted compacted histogram, ECE folds (n/N)*gap in bin order — all
    the ordered-fold parity idiom, oracle-replayable."""
    from z_rad_spark.operators.curation import quality_classifier
    from z_rad_spark.operators.encoding import calibration_bins

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    labels = _docs(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "en").alias("label_true")
    )
    out = calibration_bins(scored.join(labels, "doc_id"), "prob", "label_true", 10)
    out = out.select("bin", "n", "n_pos", "acc", "conf", "gap", "ece")
    return _r6(out, ["acc", "conf", "gap", "ece"])


def q_quantiles(spark, sf_dir):
    """Per-role exact quantile table on the compacted value histogram
    (encoding.value_quantiles): smallest value whose cumulative count
    reaches p*n, ties collapse — engine-order free, literal-prob IEEE
    multiply shared with the oracle."""
    from z_rad_spark.operators.encoding import value_quantiles

    out = value_quantiles(
        _t(spark, sf_dir), probs=(0.1, 0.25, 0.5, 0.75, 0.9), group_col="role"
    )
    out = out.select("role", "n", "q_1", "q_25", "q_5", "q_75", "q_9")
    return _r6(out, ["q_1", "q_25", "q_5", "q_75", "q_9"])


def q_winsorize(spark, sf_dir):
    """Per-role p05/p95 winsorization (encoding.winsorize): value
    cutoffs from the compacted histogram broadcast back, clip via
    least/greatest — deterministic bounds, oracle-replayable."""
    from z_rad_spark.operators.encoding import winsorize

    out = winsorize(_t(spark, sf_dir), lower=0.05, upper=0.95, group_col="role")
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        F.col("signal").cast("double").alias("signal"),
        F.col("_lo").alias("lo"),
        F.col("_hi").alias("hi"),
        "signal_w",
    )
    return _r6(out, ["signal", "lo", "hi", "signal_w"])


def q_ndcg(spark, sf_dir):
    """nDCG@5 of the IVF index vs the exact-cosine baseline
    (similarity.ndcg_at_k): binary gains, driver-precomputed literal
    discount weights shared with the oracle — fixed-order chains, no
    cross-engine transcendental, bit-replayable."""
    from z_rad_spark.operators.similarity import ndcg_at_k

    out = ndcg_at_k(q_ivf_topk(spark, sf_dir), q_cosine_topk(spark, sf_dir), k=5)
    out = out.select("query_id", "n_truth", "dcg", "idcg", "ndcg")
    return _r6(out, ["dcg", "idcg", "ndcg"])


def q_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN, FULL-value gated: the hyperplanes are seeded
    literals (similarity._hyperplanes, PCG64 seed 17), so the DuckDB
    oracle embeds the identical plane values and replays the bucket
    assignment plus per-bucket exact-cosine top-k — recall < 1 vs
    brute force is a property of the algorithm both engines share, not
    a verification gap."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_bucket_topk(emb, queries, dim=64, k=5)
    return _r6(
        out.select(
            F.col("query_id").cast("long"),
            F.col("vec_id").cast("long"),
            "cosine",
            F.col("rank").cast("int"),
        ),
        ["cosine"],
    )


def q_embed_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (semantic dedup), exact baseline —
    threshold 0.3 calibrated to the synthetic embedding distribution; the
    LSH multi-table scale path is recall-tested in pytest."""
    from z_rad_spark.operators.similarity import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.3, exact=True)
    return out.select(
        F.col("vec_id_a").cast("long"), F.col("vec_id_b").cast("long"), "cosine"
    )


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails/IPv4/phones redacted + counted). The
    synthetic corpus carries no PII, so a deterministic augmentation
    plants one of each on every third document — counts and the md5 of
    the fully redacted text are value-verified."""
    from z_rad_spark.operators.text import with_pii_redaction

    docs = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@ex.io at 10.0.0."), (F.col("doc_id") % 250).cast("string"),
        F.lit(" or +1 415 555 00"), (F.col("doc_id") % 89 + 10).cast("string"),
    )
    aug = docs.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, planted).otherwise(F.col("text"))
    )
    out = with_pii_redaction(aug)
    return out.select(
        F.col("doc_id").cast("long"),
        "n_email", "n_ipv4", "n_phone",
        F.md5("text_redacted").alias("redacted_md5"),
    )


def q_tfidf(spark, sf_dir):
    """Top-5 TF-IDF tokens per document (smooth idf, sklearn formulation);
    rank on the 6dp-rounded score with token-asc tie-break so the ordering
    is engine-reproducible."""
    from z_rad_spark.operators.text import tfidf_topk

    out = tfidf_topk(_docs(spark, sf_dir), k=5)
    return out.select(
        F.col("doc_id").cast("long"), "token", "tfidf", F.col("rank").cast("long")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sample (sampleBy analogue,
    salted-md5 thresholds — reproducible across runs/partitions/engines)."""
    from z_rad_spark.operators.text import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir),
        strata_col="lang",
        rates={"en": 0.25, "de": 0.6, "fr": 1.0},
        default_rate=0.1,
        salt="strat1",
    )
    return out.select(F.col("doc_id").cast("long"), "lang")


def q_top_tokens(spark, sf_dir):
    """Per-language top-10 frequent tokens (heavy hitters over the
    vocab-sized aggregate; integer counts, token-asc tie-break)."""
    from z_rad_spark.operators.text import top_tokens

    out = top_tokens(_docs(spark, sf_dir), k=10, group_col="lang")
    return out.select("lang", "token", F.col("n").cast("long"), F.col("rank").cast("long"))


def q_media_features(spark, sf_dir):
    """Multimodal decode plumbing gate: documents.text re-cast as opaque
    binary payloads (media_id = doc_id, kind by id mod 3) through the
    Arrow-batched mapInPandas decode stage; the feature vector is
    posexploded to scalar (dim_idx, value) rows so the driver's
    canonicalizer can sort/hash them (array columns are unhashable).
    The deterministic stub derives each feature byte from
    sha256(payload), which the DuckDB oracle replays exactly —
    sha256() hex substrings plus a REAL round-trip for the float32
    storage of the features column."""
    from z_rad_spark.operators.multimodal import decode_features

    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = (
        _docs(spark, sf_dir, spread=False)
        .where(F.col("doc_id") < 96)
        .select(
            F.col("doc_id").cast("long").alias("media_id"),
            F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        )
    )
    out = decode_features(media).select(
        F.col("media_id").cast("long"),
        "kind",
        F.col("n_bytes").cast("long"),
        F.posexplode("features").alias("dim_idx", "value"),
    )
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("dim_idx").cast("long"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


def q_media_decode(spark, sf_dir):
    """REAL media decode gate (r5): doc ids < 48 become genuine BMP (even
    ids) / 16-bit PCM WAV (odd ids) payloads via
    multimodal.synth_codec_media, then multimodal.decode_stats parses the
    BINARY with the stdlib struct codecs and emits exact integer
    sufficient statistics of the decoded pixels/samples. The DuckDB
    oracle never sees the bytes — it replays the documented pixel/sample
    generating rule with generate_series, so any decoder defect (row
    padding, BGR/RGB order, bottom-up flip, RIFF chunk walk, sample
    endianness) breaks the value hash. mean1 is the one derived double
    (s1 / n_units, a single exact division)."""
    from z_rad_spark.operators.multimodal import decode_stats, synth_codec_media

    ids = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("long").alias("media_id"))
    )
    stats = decode_stats(synth_codec_media(ids))
    out = stats.select(
        "media_id",
        "fmt",
        *[F.col(c).cast("long").alias(c) for c in ("n_units", "s1", "s2", "s3", "s4", "s5")],
        (F.col("s1").cast("double") / F.col("n_units").cast("double")).alias("mean1"),
    )
    return _r6(out, ["mean1"])


def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, SIGMOD'03) over the documents table:
    windowed rightmost-min of k-gram hashes — positional near-dup
    fingerprints guaranteed to catch any shared passage of k+w-1 tokens.
    Pure per-document array expressions, zero shuffle before the
    explode."""
    from z_rad_spark.operators.dedup import winnow_fingerprints

    out = winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("pos").cast("int"),
        F.col("fp").cast("long"),
    )


def q_gldzm_salted(spark, sf_dir):
    """Skew path for distance zones: salted distributed RLE carrying run
    start/end positions across bucket borders, keyed by border distance —
    exact (same oracle as q_gldzm); turns_per_bucket=16 forces zones to
    straddle borders at test scale."""
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    cols = GLDZM_NAMES
    out = texture_features_distributed(_t(spark, sf_dir), "gldzm", turns_per_bucket=16)
    return _r6(out.select("conv_id", *cols), cols)


def q_glszm_25d(spark, sf_dir):
    """GLSZM 2.5D: zones bounded by session borders, matrices pooled
    across sessions before the 16 formulas (1-D zones ≡ runs)."""
    cfg = FeatureConfig(
        families=("glszm",), aggr_dim="2.5D", aggr_method="MERG",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    cols = GLSZM_NAMES
    sel = [F.col(f"{c}_2_5D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_gldzm_25d(spark, sf_dir):
    """GLDZM 2.5D: zones keyed by min taxicab distance to their SESSION
    border (border_distance with session boundaries), matrices pooled
    across sessions (zrad/radiomics/gldzm.py:28-159 per-slice path)."""
    cfg = FeatureConfig(
        families=("gldzm",), aggr_dim="2.5D", aggr_method="MERG",
        gap_seconds=GAP_SECONDS, min_turns=1,
    )
    out = extract_features(_t(spark, sf_dir), cfg, [END])
    cols = GLDZM_NAMES
    sel = [F.col(f"{c}_2_5D").alias(c) for c in cols]
    return _r6(out.select("conv_id", *sel), cols)


def q_semi_eligible(spark, sf_dir):
    """Entity-level semi join: per-conversation rollup ONLY for
    conversations with >= 1 tool call (left_semi on the derived eligible
    key set; reference keeps patients whose named ROI exists,
    zrad/gui/_base_tab.py:93-121)."""
    from z_rad_spark.operators.joins import semi_eligible

    kept = semi_eligible(_t(spark, sf_dir), F.col("tool").isNotNull())
    out = kept.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.col("tool").isNotNull().cast("long")).cast("long").alias("n_tool"),
        F.sum("signal").cast("double").alias("tok_sum"),
    )
    return _r6(out, ["tok_sum"])


def q_anti_eligible(spark, sf_dir):
    """Entity-level anti join: per-conversation rollup for conversations
    with NO system (error) turn on/after 2024-01-30 (left_anti — 'no
    recent errors')."""
    from z_rad_spark.operators.joins import anti_eligible

    kept = anti_eligible(
        _t(spark, sf_dir),
        (F.col("role") == "system")
        & (F.col("ts") >= F.to_timestamp(F.lit("2024-01-30 00:00:00"))),
    )
    out = kept.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("signal").cast("double").alias("tok_sum"),
    )
    return _r6(out, ["tok_sum"])


def q_ivh_fbn(spark, sf_dir):
    """IVH on fixed_bin_number(1000) intensities: FBN grey levels, range
    [1, 1000], sweep step 1 (discretization.py:140-215; exercised by IBSI
    config E, reference tests/test_ibsi_1.py:338-367)."""
    out = _extract(spark, sf_dir, ("ivh",), ivh_method="fixed_bin_number", ivh_n_bins=1000)
    return _r6(out.select("conv_id", *_IVH_COLS), _IVH_COLS)


def q_quality_rules(spark, sf_dir):
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1):
    word-count / mean-word-length bounds, alphabetic-word fraction,
    stopword presence — exact-integer ratios, shuffle-free."""
    from z_rad_spark.operators.curation import gopher_quality_rules

    out = gopher_quality_rules(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words"),
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        F.col("pass_gopher").cast("int").alias("pass_gopher"),
    )
    return _r6(out, ["mean_word_len", "alpha_frac"])


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination by word 3-gram overlap (the GPT-3/PaLM
    recipe): training docs sharing any 3-gram with the held-out benchmark
    subset (doc_id % 97 == 0) are flagged with their overlap count."""
    from z_rad_spark.operators.curation import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    out = decontaminate(train, bench, n=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_overlap_grams",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_repetition(spark, sf_dir):
    """Intra-document repetition (Gopher repetition filters): duplicate
    word 2-gram / 3-gram fractions per document — narrow array exprs,
    no shuffle."""
    from z_rad_spark.operators.curation import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "dup_2gram_frac",
        "dup_3gram_frac",
    )
    return _r6(out, ["dup_2gram_frac", "dup_3gram_frac"])


def q_unigram_lm(spark, sf_dir):
    """CCNet-style unigram LM quality score: add-one-smoothed corpus
    unigram probabilities, per-document mean negative log-likelihood and
    perplexity. The sum of logs is an ordered positional fold on both
    engines, so the gate is a full value hash despite cross-row float
    addition (the GLCM list_reduce pattern)."""
    from z_rad_spark.operators.curation import unigram_logprob

    out = unigram_logprob(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "nll",
        "ppl",
    )
    return _r6(out, ["nll", "ppl"])


def q_bigram_lm(spark, sf_dir):
    """Conditional bigram LM score (one Markov order up from
    q_unigram_lm, toward CCNet's KenLM filter): token 0 by smoothed
    unigram, token i>0 by (bigram count + a)/(history unigram + a*V).
    The per-document log-sum is the same ordered positional fold, so the
    gate is a full value hash."""
    from z_rad_spark.operators.curation import bigram_logprob

    out = bigram_logprob(_docs(spark, sf_dir, spread=False))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "nll",
        "ppl",
    )
    return _r6(out, ["nll", "ppl"])


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail split: bigram-LM perplexity per document,
    bucketed per language by value cutoffs on the 6dp-rounded nll
    (cumulative-count thresholds on a compacted (lang, nll6) histogram —
    ties share a bucket, so the assignment is engine-order independent
    and the gate is a full value hash including the bucket label)."""
    from z_rad_spark.operators.curation import perplexity_buckets

    out = perplexity_buckets(_docs(spark, sf_dir, spread=False))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "n_tokens",
        "nll",
        "ppl",
        "bucket",
    )
    return _r6(out, ["nll", "ppl"])


def q_lexical_diversity(spark, sf_dir):
    """Per-document vocabulary-richness profile (text.lexical_diversity):
    TTR, hapax ratio, token entropy, Simpson repeat rate, Yule's K,
    chars/bytes per token. Integer sufficient statistics are order-free;
    the two float sums fold over the token-sorted frequency array (the
    list_reduce parity idiom) — oracle-replayable bit-for-bit."""
    from z_rad_spark.operators.text import lexical_diversity

    out = lexical_diversity(_docs(spark, sf_dir))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_types",
        "ttr",
        "hapax_ratio",
        "entropy_bits",
        "simpson",
        "yule_k",
        "chars_per_token",
        "bytes_per_token",
    )
    return _r6(
        out,
        ["ttr", "hapax_ratio", "entropy_bits", "simpson", "yule_k",
         "chars_per_token", "bytes_per_token"],
    )


def q_rare_tokens(spark, sf_dir):
    """Corpus-frequency token statistics per document (two-pass TF/DF
    shape): token counts, distinct tokens, mean corpus TF/DF of the
    document's token occurrences, rare-token fraction — all exact-integer
    ratios so the values hash identically on any engine."""
    from z_rad_spark.operators.curation import rare_token_stats

    out = rare_token_stats(_docs(spark, sf_dir), rare_max_count=3)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_distinct",
        "mean_tf",
        "mean_df",
        "rare_frac",
    )
    return _r6(out, ["mean_tf", "mean_df", "rare_frac"])


def q_source_reputation(spark, sf_dir):
    """Source-level reputation: per-source doc count, exact-dup rate and
    mean length, broadcast-joined back onto every document with a
    bad-source flag (domain-level filtering for web-scale corpora)."""
    from z_rad_spark.operators.curation import source_reputation

    out = source_reputation(_docs(spark, sf_dir), max_dup_rate=0.05)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "n_docs",
        "dup_rate",
        "mean_chars",
        F.col("bad_source").cast("int").alias("bad_source"),
    )
    return _r6(out, ["dup_rate", "mean_chars"])


def q_kmeans_assign(spark, sf_dir):
    """Spherical k-means assignment step (k=8): deterministic
    hash-sampled seed centroids (md5 'km|' order — data-order-invariant),
    broadcast codebook, fixed-order dot products, argmax-cosine with
    centroid-id tie-break. The hash-exact building block under
    kmeans_lloyd (whose float means are pytest-verified instead)."""
    from z_rad_spark.operators.similarity import kmeans_assign

    out = kmeans_assign(_emb(spark, sf_dir), k=8)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("cosine") + F.lit(0.0)).alias("cosine"),
    )


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means cluster then within-cluster
    cosine prune, min-id survivor. Threshold 0.3 calibrated to the
    synthetic embedding distribution (same as q_embed_dups) so the prune
    actually fires; the assignment is the deterministic hash-seeded
    literal-codebook argmax the oracle replays exactly."""
    from z_rad_spark.operators.similarity import semdedup

    out = semdedup(_emb(spark, sf_dir), k=8, threshold=0.3)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("int").alias("keep"),
        F.col("dup_of").cast("long").alias("dup_of"),
        (F.col("dup_cosine") + F.lit(0.0)).alias("dup_cosine"),
    )


def q_pq_codes(spark, sf_dir):
    """Product quantization codes (Jégou et al. 2011): each embedding
    compressed to m=4 codebook indices (k=16 codewords per contiguous
    16-dim subspace) plus the reconstruction error. Codebooks are the
    deterministic md5('pq|') hash sample (rank in md5 order = codeword
    index), distances are strict sequential squared-L2 folds, argmin ties
    break to the smaller index — all replayed exactly by the DuckDB
    oracle. Assignment is a chain of narrow projections: zero Exchange
    between scan and codes (plan-asserted)."""
    from z_rad_spark.operators.similarity import pq_codes

    out = pq_codes(_emb(spark, sf_dir), m=4, k=16)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[F.col(f"code{s}").cast("int").alias(f"code{s}") for s in range(4)],
        (F.col("recon_err") + F.lit(0.0)).alias("recon_err"),
    )


def q_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (ADC): approximate L2 search where
    the corpus side is touched only through its 4 int codes — each query
    carries an m x k literal-math lookup table and a candidate's distance
    is 4 element_at lookups summed in subspace order. The compressed
    serving path under ivf_topk; exactness is cosine_topk's job, and the
    oracle replays the quantization + lookups bit-for-bit."""
    from z_rad_spark.operators.similarity import pq_adc_topk

    e = _emb(spark, sf_dir)
    qs = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_adc_topk(e, qs, m=4, k=16, topk=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        (F.col("approx_dist") + F.lit(0.0)).alias("approx_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (FAISS IndexIVFPQ shape, by_residual=False): coarse cells
    prune the candidates to n_probe=4 of 16 inverted lists, PQ ADC ranks
    the survivors through 4 int codes. One narrow corpus pass computes
    cell + codes together (plan-asserted); the oracle replays the coarse
    argmax, the quantization, and the lookup sums bit-for-bit."""
    from z_rad_spark.operators.similarity import ivfpq_topk

    e = _emb(spark, sf_dir)
    qs = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(e, qs, n_centroids=16, n_probe=4, m=4, k=16, topk=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        (F.col("approx_dist") + F.lit(0.0)).alias("approx_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


#: BM25 gate queries — literal term bags over the synthetic corpus
#: vocabulary, embedded identically in the DuckDB oracle VALUES list.
_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["spark", "scan", "filter"]),
    (2, ["customer", "merge", "window"]),
]


def q_bm25(spark, sf_dir):
    """Okapi BM25 lexical retrieval (Lucene-default scorer) over the
    documents table: inverted-index probe plan — the token explode is
    filtered to the broadcast query-term set before any shuffle, corpus
    stats are one-row broadcasts, and the per-(query, doc) sum is an
    ordered token fold so the oracle replays the score bit-for-bit."""
    from z_rad_spark.operators.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, k1=1.2, b=0.75, topk=10)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-10 fused with exact-cosine
    dense top-10 by reciprocal-rank fusion (Cormack et al. 2009, the
    Elasticsearch/OpenSearch hybrid default). Fusion cost is bounded by
    the probe side (queries x k x retrievers rows); the fused score is
    a fixed-order two-term sum the oracle replays bit-for-bit. The
    synthetic corpus keys documents and embeddings 1:1 on id."""
    from z_rad_spark.operators.similarity import cosine_topk, rrf_fuse
    from z_rad_spark.operators.text import bm25_topk

    lex = bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, topk=10).select(
        "query_id", "doc_id", "rank"
    )
    e = _emb(spark, sf_dir)
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dense = cosine_topk(e, qs, k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([lex, dense], k=60.0, topk=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "rrf_score",
        "rank",
    )


def q_chat_template(spark, sf_dir):
    """ChatML rendering of every conversation into one training-ready
    string: linear transform + array_join over the sorted turn array
    (no O(n^2) string fold), one groupBy(conv_id); the oracle replays
    it as string_agg(... ORDER BY ts, turn_idx)."""
    from z_rad_spark.operators.sessionize import render_chat_template

    return render_chat_template(_t(spark, sf_dir)).select(
        "conv_id", "n_turns", "n_chars", "rendered"
    )


def q_cdc_chunk(spark, sf_dir):
    """Content-defined chunking (FastCDC idea at token granularity):
    boundary after any token whose md5 leading hex digit < '2'
    (p = 1/8, expected 8-token chunks), so edits re-chunk only their
    neighborhood — chunk-hash dedup stays stable under insertion.
    Pure per-document array exprs + one posexplode, zero shuffle."""
    from z_rad_spark.operators.curation import cdc_chunk

    return cdc_chunk(_docs(spark, sf_dir), boundary_bits=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_idx",
        "n_tokens",
        "chunk",
    )


def q_quality_classifier(spark, sf_dir):
    """Hashed linear quality classifier (fastText/CCNet-style model
    filter): tokens hash to 64 buckets (md5 first-4-hex, the
    hashed_embedding bucket), score = mean bucket weight over the
    document's tokens (strict left fold), prob = logistic(score), label
    thresholded at 0.5. Weights are the deterministic seeded vector —
    6dp-rounded literals both engines parse to identical doubles."""
    from z_rad_spark.operators.curation import quality_classifier

    out = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        (F.col("score") + F.lit(0.0)).alias("score"),
        (F.col("prob") + F.lit(0.0)).alias("prob"),
        "label",
    )


def q_line_dedup(spark, sf_dir):
    """Cross-document line-level deduplication (RefinedWeb §3.3 / CCNet
    boilerplate removal): the corpus re-segmented into deterministic
    8-token lines (the synthetic documents carry no newlines), lines
    whose normalized form occurs in more than one distinct document
    dropped, survivors re-joined in original order. Output is the md5 of
    the cleaned text (compact and byte-exact — string equality, not
    float tolerance) plus kept/removed counts."""
    from z_rad_spark.operators.dedup import line_dedup

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    lined = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = line_dedup(lined, max_doc_freq=1)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("clean_text").alias("clean_md5"),
        "n_lines",
        "n_removed",
    )


def q_dsir(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram (1024
    md5 buckets) log-likelihood ratio of a target domain — sources
    src0/src1 — over the raw corpus, add-one smoothed. The per-document
    sum of per-token log-ratios is an ordered positional fold on both
    engines (the q_unigram_lm pattern), so the gate is a full value hash
    despite cross-row float addition."""
    from z_rad_spark.operators.curation import dsir_weights

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("source").isin("src0", "src1"))
    out = dsir_weights(docs, target, n_buckets=1024, smoothing=1.0)
    out = out.select(F.col("doc_id").cast("long").alias("doc_id"), "n_tokens", "logw")
    return _r6(out, ["logw"])


def q_domain_mix(spark, sf_dir):
    """Deterministic domain-mixture sampling (Pile/DoReMi-style source
    reweighting): per-source acceptance rates targeting a 0.5-budget mix
    that up-weights src0-3 (3.0) over src4-9 (1.0) and src10-19 (0.25),
    decided by an md5 hash threshold per document. The weight
    coefficients live in oracle_sql_defs (imported here) so both engines
    parse the identical doubles; the keep decision is an integer hash
    compare — exact."""
    from oracle_sql_defs import MIX_BUDGET, MIX_WEIGHTS
    from z_rad_spark.operators.curation import domain_mix_sample

    out = domain_mix_sample(_docs(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "rate",
        "kept",
    )
    return _r6(out, ["rate"])


def q_dup_spans(spark, sf_dir):
    """Duplicate 8-gram span coverage (the Lee et al. 2022
    exact-substring-dedup approximation): per-document count of
    duplicated-gram starts, merged covered-token total (exact integer
    delta sum over sorted starts), coverage fraction and a drop decision
    at 0.2. ~9% of sliding 8-gram positions in the synthetic corpus are
    cross-document duplicates, so the query exercises every branch."""
    from z_rad_spark.operators.dedup import dup_span_stats

    out = dup_span_stats(_docs(spark, sf_dir), n=8, min_doc_freq=2, drop_frac=0.2)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_dup_grams",
        "covered_tokens",
        "dup_frac",
        "drop_doc",
    )
    return _r6(out, ["dup_frac"])


def _conv_signal(events):
    """The streaming gate queries' default source: the events-derived
    (conv_id, ts, signal) conversation frame."""
    return events.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        (1 + F.abs(F.floor("value").cast("int")) % 9).cast("double").alias("signal"),
    )


def _event_keys(events):
    """Raw (event_type, key) pairs — the shape the sketch operators
    consume (group + hashable key)."""
    return events.select(
        F.col("event_type").cast("string").alias("event_type"),
        F.col("user_id").cast("long").alias("key"),
    )


def _replay_stream(spark, sf_dir, build_output, prefix, project=_conv_signal):
    """Shared harness for the streaming gate queries: replay
    ``project(events)`` through a file stream source with an availableNow
    trigger into a memory sink, and return the emitted table.

    * The source copy is written with a handful of parallel files;
      availableNow with no file rate limit processes them as ONE
      micro-batch, so file order cannot create late-drop nondeterminism.
    * The stream runs on its own ``newSession()`` (same SparkContext and
      builder confs) with 8 shuffle partitions: per-batch state-store
      commit cost is proportional to partitions, and the state here is
      tiny (a real deployment sizes this to state volume, not cores).
      The caller's session conf is never written.
    * awaitTermination's result is CHECKED — a timeout would otherwise
      surface as a silent partial sink; the query is stopped and the
      source copy deleted either way (the memory sink keeps the emitted
      rows after the stream ends).
    """
    import shutil
    import tempfile
    import uuid

    stream_spark = spark.newSession()
    stream_spark.conf.set("spark.sql.shuffle.partitions", "8")
    src = tempfile.mkdtemp(prefix=prefix)
    base = project(stream_spark.read.parquet(f"{sf_dir}/events.parquet"))
    base.repartition(4).write.mode("overwrite").parquet(src)
    stream = stream_spark.readStream.schema(base.schema).parquet(src)
    out = build_output(stream)
    name = prefix + uuid.uuid4().hex
    q = None
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(600)
        if not finished:
            raise RuntimeError(
                f"{name}: streaming replay did not finish within 600s — "
                "refusing to read a partial memory sink"
            )
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(src, ignore_errors=True)
    return stream_spark.table(name)


def q_stream_window_stats(spark, sf_dir):
    """Structured Streaming gate query: the events table replayed through
    a file stream source into watermarked tumbling-window aggregates
    (streaming.streaming_window_stats), availableNow trigger, memory
    sink. Emitted set = append-mode contract: exactly the windows whose
    end <= the final watermark (max event time, delay 0s) — the batch
    SQL oracle replicates that cutoff, so this query hash-verifies the
    streaming/batch consistency guarantee end to end."""
    from z_rad_spark.streaming import streaming_window_stats

    res = _replay_stream(
        spark,
        sf_dir,
        lambda s: streaming_window_stats(s, window="1 hour", watermark="0 seconds"),
        "q_stream_",
    )
    return _r6(
        res.select(
            "conv_id",
            F.col("window_start_us").cast("long"),
            F.col("window_end_us").cast("long"),
            F.col("n_turns").cast("long"),
            "signal_sum",
            "signal_min",
            "signal_max",
        ),
        ["signal_sum", "signal_min", "signal_max"],
    )


def q_interval_join(spark, sf_dir):
    """Point-in-interval (range) join via the bucketed equi-join scale
    path (operators/joins.interval_join): per-turn count of 30-minute
    post-error windows covering it — no nested-loop join in the plan."""
    from z_rad_spark.operators.joins import interval_join

    t = _t(spark, sf_dir)
    pts = t.select("conv_id", "turn_idx", "ts")
    ivals = t.where(F.col("role") == "system").select(
        "conv_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    hits = (
        interval_join(pts, ivals, keys=("conv_id",), bucket_seconds=3600)
        .groupBy("conv_id", "turn_idx")
        .agg(F.count("*").cast("long").alias("n_err_windows"))
    )
    return (
        pts.join(hits, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.coalesce("n_err_windows", F.lit(0)).cast("long").alias("n_err_windows"),
        )
    )


def q_shard_pack(spark, sf_dir):
    """Greedy token-budget sequence packing in deterministic hash order
    (curation.shard_pack): distributed two-pass prefix sum (per-bucket
    windows + tiny offset frame), hash-exact vs the single-window SQL
    oracle. Budget 2000 tokens per shard."""
    from z_rad_spark.operators.curation import shard_pack

    docs = _docs(spark, sf_dir, spread=False).withColumn(
        "n_tokens", F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    )
    out = shard_pack(docs, budget=2000, token_col="n_tokens")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "cum_before",
        "shard_id",
    )


def q_pack_sequences(spark, sf_dir):
    """Fixed-context example packing (GPT-3-style concat-and-split at
    context_len=512): documents in deterministic hash order are cut into
    consecutive 512-token windows, straddling docs split across packs —
    one (doc x pack) row with exact integer offsets, riding shard_pack's
    two-pass distributed prefix sum (no global single-task sort)."""
    from z_rad_spark.operators.curation import pack_sequences

    docs = _docs(spark, sf_dir, spread=False).withColumn(
        "n_tokens", F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    )
    return pack_sequences(docs, context_len=512, token_col="n_tokens")


def q_hash_split(spark, sf_dir):
    """Deterministic disjoint train/val/test split (salted-md5 range
    buckets, dedup.hash_split): reproducible across runs, partitionings,
    engines, and corpus growth; zero shuffle."""
    from z_rad_spark.operators.dedup import hash_split

    out = hash_split(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "split")


def q_source_cap(spark, sf_dir):
    """Per-source document cap (max N pages per domain,
    curation.cap_per_group): keep <= 20 docs per source in deterministic
    salted-hash order — an unbiased reproducible per-group subset."""
    from z_rad_spark.operators.curation import cap_per_group

    out = cap_per_group(_docs(spark, sf_dir), group_col="source", cap=20)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "source")


def q_hashed_embed(spark, sf_dir):
    """Feature-hashing text embedding (hashing trick, 16 dims, md5
    buckets, L2-normalized) — the vocabulary-free featurizer feeding the
    similarity/dedup stack; norm is sqrt of one fixed integer expression
    so every component hashes identically on any engine."""
    from z_rad_spark.operators.text import hashed_embedding

    out = hashed_embedding(_docs(spark, sf_dir), dims=16)
    cols = [f"e{d:02d}" for d in range(16)]
    return _r6(
        out.select(F.col("doc_id").cast("long").alias("doc_id"), *cols), cols
    )


def q_stream_sessionize(spark, sf_dir):
    """Custom stateful streaming gate query: gap sessionization via
    applyInPandasWithState (event-time timeout) replayed over the events
    table with availableNow. Emitted set = sessions closed by an in-data
    gap plus open sessions whose event-time timeout (last_ms + gap_ms)
    fell strictly below the final watermark (max event ms, delay 0s) —
    the batch SQL oracle replicates both rules, hash-verifying the
    stateful operator's exactly-once emission contract end to end."""
    from z_rad_spark.streaming import streaming_sessionize

    res = _replay_stream(
        spark,
        sf_dir,
        lambda s: streaming_sessionize(s, gap_seconds=GAP_SECONDS, watermark="0 seconds"),
        "q_stream_sess_",
    )
    return _r6(
        res.select(
            "conv_id",
            F.col("session_start_us").cast("long"),
            F.col("session_end_us").cast("long"),
            F.col("n_turns").cast("long"),
            "signal_sum",
        ),
        ["signal_sum"],
    )


def q_sketch_stats(spark, sf_dir):
    """Sketch aggregates per source, VALUE-gated via the IBSI
    tolerance-CSV pattern (reference tests/test_ibsi_1.py:19-41:
    reference values *with tolerances* are still hard gates): HLL++ and
    Greenwald-Khanna estimates are not engine-portable doubles, so the
    gate row carries (a) the EXACT distinct count — hash-verified against
    DuckDB — and (b) booleans asserting each estimate sits inside its
    published error bound, computed Spark-side against the exact
    aggregates; the oracle emits literal TRUE for those columns, so any
    bound violation hash-mismatches the gate. The exact twins ride the
    same plan only in this verification harness — the production
    operators (operators/sketches.py) stay single-pass sketch-only."""
    from z_rad_spark.operators.sketches import approx_distinct_by, approx_quantiles_by

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    d = (
        approx_distinct_by(toks, "source", "token", rsd=0.02)
        .drop("n_rows")  # token-row count; the gate's n_rows is per-document
        .join(
            toks.groupBy("source").agg(
                F.countDistinct("token").cast("long").alias("exact_distinct")
            ),
            "source",
        )
    )
    ests = approx_quantiles_by(
        docs, "source", "n_chars", probabilities=(0.5, 0.9), accuracy=10_000
    ).join(docs.groupBy("source").agg(F.count("*").cast("long").alias("n_rows")), "source")
    # GK guarantee: the returned element's rank interval [lt+1, le] must
    # intersect [p*n - eps, p*n + eps], eps = n/accuracy (+1 floor slack)
    ranks = (
        docs.join(F.broadcast(ests), "source")
        .groupBy("source")
        .agg(
            *[
                agg
                for p, est in (("50", "p50"), ("90", "p90"))
                for agg in (
                    F.sum((F.col("n_chars") < F.col(est)).cast("long")).alias(f"lt{p}"),
                    F.sum((F.col("n_chars") <= F.col(est)).cast("long")).alias(f"le{p}"),
                )
            ]
        )
    )
    j = d.join(ests, "source").join(ranks, "source")
    n = F.col("n_rows").cast("double")

    def rank_ok(p_frac, lt, le):
        eps = n / F.lit(10_000.0) + F.lit(1.0)
        target = n * F.lit(p_frac)
        return (F.col(lt) + 1 <= target + eps) & (F.col(le) >= target - eps)

    # HLL++ rsd is one standard deviation; 5 sigma (min 1 count) = hard bound
    dist_bound = F.greatest(F.col("exact_distinct") * F.lit(5 * 0.02), F.lit(1.0))
    return j.select(
        "source",
        "exact_distinct",
        F.col("n_rows"),
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct")).cast("double")
            <= dist_bound
        ).alias("distinct_ok"),
        rank_ok(0.5, "lt50", "le50").alias("p50_ok"),
        rank_ok(0.9, "lt90", "le90").alias("p90_ok"),
    )


def q_chunk_docs(spark, sf_dir):
    """Sliding-window document chunking (20-token windows, stride 15,
    tail kept) — RAG/pretraining prep; exact integer chunk starts."""
    from z_rad_spark.operators.curation import chunk_documents

    out = chunk_documents(_docs(spark, sf_dir), chunk_tokens=20, stride=15)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        "n_chunk_tokens",
    )


def q_turn_pairs(spark, sf_dir):
    """Instruction-tuning pair extraction: (user prompt, assistant
    response) adjacent-turn pairs in the stable conversation order."""
    from z_rad_spark.operators.sessionize import turn_pairs

    out = turn_pairs(_t(spark, sf_dir))
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "prompt",
        "response",
    )


def q_conv_dedup(spark, sf_dir):
    """Whole-conversation exact dedup: conversations hashed on their
    ordered turn-text sequence (stable (ts, turn_idx) order), keeping the
    lexicographically-smallest conv_id per hash — the transcript-level
    twin of document exact_dedup. One map-side-combined groupBy per conv
    + one tiny groupBy on the hash."""
    t = _t(spark, sf_dir)
    per_conv = (
        t.groupBy("conv_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("ts"), F.col("turn_idx"), F.col("text")))
                        ),
                        lambda s: s["text"],
                    ),
                )
            ).alias("conv_hash"),
            F.count("*").cast("long").alias("n_turns"),
        )
    )
    keep = per_conv.groupBy("conv_hash").agg(F.min("conv_id").alias("keep_id"))
    return (
        per_conv.join(keep, "conv_hash")
        .select(
            "conv_id",
            "n_turns",
            (F.col("conv_id") == F.col("keep_id")).cast("int").alias("is_canonical"),
        )
    )


def q_conv_quality(spark, sf_dir):
    """Conversation-level quality metrics for SFT curation: turn counts
    per role, tool-call rate, mean assistant turn tokens, user/assistant
    balance — exact-integer ratios over one per-conversation aggregate."""
    t = _t(spark, sf_dir)
    agg = t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).cast("long").alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).cast("long").alias("n_assistant"),
        F.sum(F.col("tool").isNotNull().cast("long")).cast("long").alias("n_tool"),
        F.sum(F.when(F.col("role") == "assistant", F.col("signal")).otherwise(F.lit(0.0)))
        .cast("double")
        .alias("_asst_tok"),
    )
    out = agg.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        (F.col("n_tool").cast("double") / F.col("n_turns").cast("double")).alias("tool_rate"),
        F.when(
            F.col("n_assistant") > 0,
            F.col("_asst_tok") / F.col("n_assistant").cast("double"),
        ).otherwise(F.lit(0.0)).alias("mean_assistant_tokens"),
        F.when(
            F.col("n_assistant") > 0,
            F.col("n_user").cast("double") / F.col("n_assistant").cast("double"),
        ).otherwise(F.lit(0.0)).alias("user_assistant_ratio"),
    )
    return _r6(out, ["tool_rate", "mean_assistant_tokens", "user_assistant_ratio"])


def q_session_window(spark, sf_dir):
    """Catalyst-native session windows (F.session_window, 30-min gap):
    the declarative alternative to both the window-based sessionizer and
    the stateful streaming one. NOTE the boundary difference the oracle
    encodes: session_window merges events whose [ts, ts+gap) windows
    OVERLAP, so a gap exactly == 30 min starts a NEW session (>= break),
    while the engine's gap sessionizer breaks only on gap > limit —
    documented operator semantics, both gate-verified."""
    t = _t(spark, sf_dir)
    out = (
        t.groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("signal").cast("double").alias("signal_sum"),
        )
        .select(
            "conv_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("session_end_us"),
            "n_turns",
            "signal_sum",
        )
    )
    return _r6(out, ["signal_sum"])


def q_asof_tolerance(spark, sf_dir):
    """As-of state with a staleness tolerance: matches older than 3 days
    null out, judged PER VALUE COLUMN against the turn whose value is
    actually carried (deliberately stronger than pandas merge_asof's
    row-level rule — see asof.asof_join docstring; the two coincide when
    value columns have no NULLs). The matched turn's ts rides the same
    running-last pass, zero extra shuffles."""
    from z_rad_spark.operators.asof import asof_state

    out = asof_state(
        _t(spark, sf_dir),
        spark,
        CUTOFFS,
        ["signal", "role"],
        tolerance_seconds=3 * 86400.0,
    )
    return out.select(
        "conv_id",
        _us("as_of", "as_of_us"),
        F.col("signal").alias("last_tok"),
        F.col("role").alias("last_role"),
    )


def q_asof_forward(spark, sf_dir):
    """Forward as-of state (pandas merge_asof direction='forward' parity,
    pytest-verified): for each conversation x cutoff, the EARLIEST turn
    at-or-after the cutoff — the mirrored running-last pass over the same
    single hash exchange (descending sort, build-before-probe at equal
    ts), asof.asof_join direction='forward'. The lookahead primitive for
    label construction ("what happens next after this point in time")."""
    from z_rad_spark.operators.asof import asof_state

    out = asof_state(
        _t(spark, sf_dir),
        spark,
        CUTOFFS,
        ["signal", "role", "turn_idx"],
        direction="forward",
    )
    return out.select(
        "conv_id",
        _us("as_of", "as_of_us"),
        F.col("signal").alias("next_tok"),
        F.col("role").alias("next_role"),
        F.col("turn_idx").cast("int").alias("next_turn_idx"),
    )


def q_asof_nearest(spark, sf_dir):
    """Nearest as-of state with a 2-day tolerance (pandas merge_asof
    direction='nearest' parity on null-free columns, pytest-verified):
    both scans ride ONE hash exchange (Window/Sort/Window/Sort on the
    same HashPartitioning — plan-asserted); per value column the closer
    match by |turn ts - cutoff| wins, ties to backward. `tool` (NULL on
    most turns) exercises the engine's per-column semantics: each
    column is judged against the nearest turn where THAT column is
    non-null."""
    from z_rad_spark.operators.asof import asof_state

    out = asof_state(
        _t(spark, sf_dir),
        spark,
        CUTOFFS,
        ["signal", "tool"],
        direction="nearest",
        tolerance_seconds=2 * 86400.0,
    )
    return out.select(
        "conv_id",
        _us("as_of", "as_of_us"),
        F.col("signal").alias("near_tok"),
        F.col("tool").alias("near_tool"),
    )


def q_stream_dedup(spark, sf_dir):
    """Streaming deduplication gate query: the replay deduplicated with
    dropDuplicatesWithinWatermark on (conv_id, ts, signal) — the
    bounded-state streaming dedup for at-least-once ingestion (state
    expires once the watermark passes, unlike unbounded dropDuplicates).
    Emitted set = first occurrence of each distinct tuple; the batch
    oracle is a plain SELECT DISTINCT, hash-verifying the operator's
    exactly-once emission."""
    res = _replay_stream(
        spark,
        sf_dir,
        lambda s: s.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["conv_id", "ts", "signal"]
        ),
        "q_stream_dedup_",
    )
    return _r6(
        res.select("conv_id", _us("ts", "ts_us"), "signal"),
        ["signal"],
    )


def q_expanding_zscore(spark, sf_dir):
    """Point-in-time standardization: each turn z-scored against its own
    conversation's expanding history (sessionize.with_expanding_zscore)
    — the leakage-safe normalization (ROWS UNBOUNDED PRECEDING frame
    under the stable (ts, turn_idx) sort; no future turn is readable by
    construction). Integer-valued signals keep every running sum exact,
    so the oracle replays z bit-for-bit."""
    from z_rad_spark.operators.sessionize import with_expanding_zscore

    out = with_expanding_zscore(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        F.col("n_so_far").cast("long").alias("n_so_far"),
        "mean_so_far",
        "z",
    )
    return _r6(out, ["mean_so_far", "z"])


def q_cusum(spark, sf_dir):
    """One-sided CUSUM drift monitoring per conversation
    (drift.cusum_summary): alarm count, chart max, first alarm time.
    The sequential recursion is computed by its closed form (prefix sum
    minus running min — two window aggregates, no fold), and with
    integer signals and the dyadic 5.5 reference every intermediate is
    exact, so alarms replay bit-for-bit in the oracle."""
    from z_rad_spark.operators.drift import cusum_summary

    out = cusum_summary(_t(spark, sf_dir), target=5.0, slack=0.5, threshold=8.0)
    out = out.select(
        "conv_id", "n_turns", "n_alarms", "max_cusum", "first_alarm_us"
    )
    return _r6(out, ["max_cusum"])


def q_hamming_topk(spark, sf_dir):
    """Binary-quantized ANN baseline (similarity.binary_quantize +
    hamming_topk): sign-bit codes packed into two 32-bit words, exact
    top-k under Hamming distance for the first five vectors as queries.
    Integer-exact end to end — XOR + popcount on both engines — so the
    oracle replays ranks exactly (ties break on vec_id)."""
    from z_rad_spark.operators.similarity import hamming_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = hamming_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("hamming").cast("int").alias("hamming"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_pca_cov(spark, sf_dir):
    """Distributed covariance of the embedding corpus
    (similarity.embedding_covariance): the one-pass PCA/whitening
    statistics pass. Per-partition dense Gram partials (one BLAS call
    per Arrow batch) + a d^2/2-row groupBy — the N x d element table is
    never materialized, unlike the oracle's didactic unnest self-join.
    cov = sxy/n - (sx/n)*(sy/n) with a fixed expression shape."""
    from z_rad_spark.operators.similarity import embedding_covariance

    out = embedding_covariance(_emb(spark, sf_dir, spread=False))
    out = out.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "n",
        "cov",
    )
    return _r6(out, ["cov"])


def q_stream_running_stats(spark, sf_dir):
    """Stateful streaming point-in-time features
    (streaming.streaming_running_stats via applyInPandasWithState): per
    distinct (conv_id, ts), the running count/sum/max over every turn at
    or before that timestamp — the streaming twin of the batch
    expanding-window frame, emitted incrementally from O(1)
    per-conversation state. The batch oracle recomputes the same
    cumulative aggregates declaratively, hash-verifying the
    streaming/batch consistency of the engine's leakage contract."""
    from z_rad_spark.streaming import streaming_running_stats

    res = _replay_stream(spark, sf_dir, streaming_running_stats, "q_stream_run_")
    return _r6(
        res.select("conv_id", "ts_us", "n_so_far", "signal_sum", "signal_max"),
        ["signal_sum", "signal_max"],
    )


def q_psi_drift(spark, sf_dir):
    """Population Stability Index per role between the pre-cutoff
    reference window and the post-cutoff monitoring window
    (drift.psi_drift): one aggregation pass over 2x9 conditional counts,
    fixed-order term sum — exact counts + structural float order, so the
    oracle replays the score (and the conventional band labels)
    bit-for-bit."""
    from z_rad_spark.operators.drift import psi_drift

    out = psi_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    out = out.select("role", "n_ref", "n_cur", "psi", "drift_band")
    return _r6(out, ["psi"])


def q_temporal_split(spark, sf_dir):
    """Purged walk-forward train/test split with embargo
    (curation.temporal_split, López de Prado ch. 7): per-turn fold
    assignment at the mid cutoff with a 1-day label horizon and a
    12-hour embargo. Pure integer-microsecond predicates — zero
    shuffles — and the oracle replays the exact assignment."""
    from z_rad_spark.operators.curation import temporal_split

    out = temporal_split(
        _t(spark, sf_dir),
        split_ts="2024-01-15 00:00:00",
        horizon_seconds=86400.0,
        embargo_seconds=43200.0,
    )
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "fold",
    )


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic per role between the
    pre-cutoff and post-cutoff windows (drift.ks_drift): exact integer
    ECDF counts collapsed to |roles| x |values| rows before any window
    runs; the only float ops are two divisions, abs, and max — the
    oracle replays KS bit-for-bit."""
    from z_rad_spark.operators.drift import ks_drift

    out = ks_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out.select("role", "n_ref", "n_cur", "ks"), ["ks"])


def q_mi_assoc(spark, sf_dir):
    """Mutual information + chi-square between role and the integer
    signal bins, per pre/post-cutoff window (drift.mi_association): one
    aggregation pass over the 4x9 conditional-count grid, fixed-order
    term chains — exact counts, oracle-replayable floats."""
    from z_rad_spark.operators.drift import mi_association

    out = mi_association(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out.select("win", "n", "mi", "chi2"), ["mi", "chi2"])


def q_role_transitions(spark, sf_dir):
    """Per-conversation role-transition Markov features — the
    conversation-shape analogue of the GLCM block
    (sessionize.role_transitions): lag-1 role co-occurrence matrix
    summarized to transition entropy + self-loop ratio, one reused
    exchange on conv_id, fixed-order entropy chain."""
    from z_rad_spark.operators.sessionize import role_transitions

    out = role_transitions(_t(spark, sf_dir))
    return _r6(
        out,
        ["self_loop_ratio", "trans_entropy", "prev_entropy", "cond_entropy"],
    )


def q_target_encode(spark, sf_dir):
    """Leakage-safe expanding target encoding
    (sessionize.with_expanding_target_encoding): running mean of the
    signal over strictly earlier same-role turns in the same
    conversation — ROWS UNBOUNDED PRECEDING..1 PRECEDING under the
    stable (ts, turn_idx) sort, so no feature reads its own row or the
    future. Frame-order running sums are the cross-engine-deterministic
    contract q_expanding_zscore already rides."""
    from z_rad_spark.operators.sessionize import with_expanding_target_encoding

    out = with_expanding_target_encoding(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        "n_prior",
        "te",
    )
    return _r6(out, ["te"])


def q_mw_drift(spark, sf_dir):
    """Mann-Whitney U / AUC rank drift per role between the pre/post
    cutoff windows (drift.mw_drift): midrank sums kept as exact doubled
    integers (long), U a multiple of 0.5, auc one division — zero float
    summation, oracle replays bit-for-bit."""
    from z_rad_spark.operators.drift import mw_drift

    out = mw_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out.select("role", "n_ref", "n_cur", "u", "auc"), ["u", "auc"])


def q_autocorr(spark, sf_dir):
    """Per-conversation lag-1..3 autocorrelation of the turn signal
    (sessionize.autocorr_features): exact long sufficient statistics
    from one reused conv_id exchange; fixed single-op float chains —
    oracle-replayable."""
    from z_rad_spark.operators.sessionize import autocorr_features

    out = autocorr_features(_t(spark, sf_dir), lags=(1, 2, 3))
    return _r6(out, ["ac_1", "ac_2", "ac_3"])


def q_loo_encode(spark, sf_dir):
    """Leave-one-out + m-estimate smoothed target encoding of role
    against the signal (encoding.with_loo_target_encoding): two
    broadcast-joined exact-integer aggregates, no category windows —
    the leakage-safe global encoder beside the expanding per-conv one."""
    from z_rad_spark.operators.encoding import with_loo_target_encoding

    out = with_loo_target_encoding(_t(spark, sf_dir), smoothing=10.0)
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "role",
        "n_other",
        "te_loo",
        "te_smooth",
    )
    return _r6(out, ["te_loo", "te_smooth"])


def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence per role + information value against the
    binary target signal >= 5 (encoding.woe_iv): one aggregation pass,
    fixed-order count folds and iv term chain — exact integers in,
    oracle-replayable floats out."""
    from z_rad_spark.operators.encoding import woe_iv

    out = woe_iv(_t(spark, sf_dir), threshold=5.0)
    return _r6(out, ["woe", "iv"])


def q_signal_trend(spark, sf_dir):
    """Per-conversation OLS slope/intercept/Pearson-r of the signal
    against the turn ordinal (profile.signal_trend): six exact-long
    sufficient statistics from one reused conv_id exchange; closed
    forms are fixed single-op double chains — oracle-replayable."""
    from z_rad_spark.operators.profile import signal_trend

    out = signal_trend(_t(spark, sf_dir))
    return _r6(out, ["slope", "intercept", "r"])


def q_temporal_profile(spark, sf_dir):
    """Per-conversation hour-of-day activity profile: peak hour
    (earliest-wins), peak share, hour entropy, night/weekend fractions
    (profile.temporal_profile): 24 exact map-side counts + fixed fold
    chains — oracle-replayable."""
    from z_rad_spark.operators.profile import temporal_profile

    out = temporal_profile(_t(spark, sf_dir))
    return _r6(
        out, ["peak_frac", "hour_entropy", "night_frac", "weekend_frac"]
    )


def q_latency(spark, sf_dir):
    """Per-conversation user->assistant response-latency stats
    (profile.response_latency): exact microsecond-long gaps from one
    lag window, min/max exact, mean one division. The mean is emitted
    in SECONDS (one extra /1e6, identical in both engines): at the
    raw microsecond magnitude (~1e10) the double's ulp exceeds 1e-6
    and the oracle's decimal round-trip can land one ulp off Spark's
    shortest-repr rounding — rescaling keeps the hash gate in the
    precision zone where the r6 contract is exact."""
    from z_rad_spark.operators.profile import response_latency

    out = response_latency(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        "n_resp",
        (F.col("mean_us") / F.lit(1000000.0)).alias("mean_sec"),
        "min_us",
        "max_us",
    )
    return _r6(out, ["mean_sec"])


def q_freq_bins(spark, sf_dir):
    """Deterministic equal-frequency binning of document length
    (curation.equal_frequency_bins): exact integer floor-division rule
    on the compacted value histogram (ties stay together — partition-
    invariant, unlike NTILE), broadcast-joined back. Pure integer
    output — bit-replayable."""
    from z_rad_spark.operators.curation import equal_frequency_bins

    out = equal_frequency_bins(_docs(spark, sf_dir), col="n_chars", n_bins=10)
    return out.select("doc_id", "n_chars", "bin")


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training data
    (similarity.mine_hard_negatives): per query, the top-5 most-similar
    corpus vectors with a DIFFERENT label — exact broadcast baseline,
    id-ascending tie-break, fixed-order cosine fold; the oracle replays
    the ranking exactly. The scale path (ANN pool ->
    filter_hard_negatives) is equivalence-tested in pytest."""
    from z_rad_spark.operators.similarity import mine_hard_negatives

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = mine_hard_negatives(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.col("neg_label").cast("int"),
        "cosine",
        F.col("rank").cast("int"),
    )


def q_stream_cusum(spark, sf_dir):
    """Stateful streaming CUSUM drift chart (streaming.streaming_cusum
    via applyInPandasWithState): per distinct (conv_id, ts), the
    closed-form chart value from O(1) carried state (prefix sum +
    running floor), tied turns folded into one deterministic step. The
    batch oracle replays the distinct-ts semantics declaratively —
    dyadic-exact deviations make the streaming/batch hash match
    bit-for-bit."""
    from z_rad_spark.streaming import streaming_cusum

    res = _replay_stream(spark, sf_dir, streaming_cusum, "q_stream_cusum_")
    return _r6(
        res.select("conv_id", "ts_us", "n_at_ts", "cusum", "cusum_alarm"),
        ["cusum"],
    )


def q_stream_page_hinkley(spark, sf_dir):
    """Stateful streaming Page-Hinkley mean-shift chart
    (streaming.streaming_page_hinkley via applyInPandasWithState): per
    distinct (conv_id, ts), dev = (sx - c*mbar) - c*delta with the
    running mean from exact integer state, prefix-folded with the
    carried seed prepended. The batch oracle replays the distinct-ts
    fold with list_reduce in ts order — bit-for-bit."""
    from z_rad_spark.streaming import streaming_page_hinkley

    res = _replay_stream(
        spark, sf_dir, lambda s: streaming_page_hinkley(s, 0.25, 12.0),
        "q_stream_ph_",
    )
    return _r6(
        res.select("conv_id", "ts_us", "n_at_ts", "ph", "ph_alarm"),
        ["ph"],
    )


def q_stream_range_join(spark, sf_dir):
    """Watermarked stream-stream range join
    (streaming.streaming_range_join): low-signal turns x high-signal
    state events of the same conversation within the trailing hour —
    inner join, append mode, two-sided range predicate (bounded state).
    The batch oracle replays the exact pair set as a plain range
    join."""
    from z_rad_spark.streaming import streaming_range_join

    res = _replay_stream(
        spark, sf_dir,
        lambda s: streaming_range_join(s, high_threshold=8.0, range_seconds=3600.0),
        "q_stream_rj_",
    )
    return _r6(
        res.select("conv_id", "ts_us", "signal", "state_ts_us", "state_val"),
        ["signal", "state_val"],
    )


def q_daily_activity(spark, sf_dir):
    """Daily active/new/retained conversations (profile.daily_activity):
    distinct (conv, day) grid, min-day firsts, day+1 self equi-join —
    exact integers + one division, oracle-replayable."""
    from z_rad_spark.operators.profile import daily_activity

    out = daily_activity(_t(spark, sf_dir))
    out = out.select(
        F.col("day").cast("string").alias("day"),
        "n_active",
        "n_new",
        "n_retained",
        "retention",
    )
    return _r6(out, ["retention"])


def q_embed_stats(spark, sf_dir):
    """Per-vector embedding data-quality screen
    (similarity.embedding_stats): dim/norm/zeros/non-finite + ok flag —
    pure narrow map; the norm is the engine's standard fixed-order fold,
    oracle-replayable."""
    from z_rad_spark.operators.similarity import embedding_stats

    out = embedding_stats(_emb(spark, sf_dir), dim=64)
    out = out.select(
        F.col("vec_id").cast("long"),
        "dim",
        "norm",
        "n_zero",
        "n_nonfinite",
        "ok",
    )
    return _r6(out, ["norm"])


def q_trending_tokens(spark, sf_dir):
    """Daily top-5 tokens by document frequency over transcripts
    (text.trending_tokens): distinct-token explode, one (day, token)
    aggregate, bounded per-day top-k with the (count desc, token asc)
    tie-break — exact integers, oracle-replayable."""
    from z_rad_spark.operators.text import trending_tokens

    out = trending_tokens(_t(spark, sf_dir), k=5)
    return out.select(
        F.col("day").cast("string").alias("day"), "token", "n_docs", "rank"
    )


def q_conv_features(spark, sf_dir):
    """The composed per-conversation feature table
    (profile.conversation_features): eleven conversation-level operators
    — one convstats.build over their table rows, joined to Spearman on
    conv_id — 38 features, one row per conversation. The oracle composes the SAME component oracles (each already hash-green
    standalone) with the same joins; the latency mean is rescaled to
    seconds like q_latency (r6 precision zone)."""
    from z_rad_spark.operators.profile import conversation_features

    out = conversation_features(_t(spark, sf_dir))
    out = out.withColumn(
        "mean_sec", F.col("mean_us") / F.lit(1000000.0)
    ).drop("mean_us")
    floats = [
        "slope", "intercept", "r", "self_loop_ratio", "trans_entropy",
        "prev_entropy", "cond_entropy",
        "mean_run", "ac_1", "ac_2", "ac_3", "rho", "peak_frac",
        "hour_entropy", "night_frac", "weekend_frac", "mean_sec",
        "mean_gap_s", "cv_gap", "burstiness", "fano_hourly",
        "cp_gap", "cp_stat", "sen_slope", "sen_intercept", "pair_r",
    ]
    return _r6(out, floats)


def q_vocab_growth(spark, sf_dir):
    """Per-turn vocabulary-growth curve (sessionize.with_vocab_growth):
    first-occurrence flags over (conv, token), per-turn regroup, running
    vocab sum — pure exact integers, oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_vocab_growth

    out = with_vocab_growth(_t(spark, sf_dir))
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "n_distinct",
        "n_new",
        "vocab",
    )


def q_spearman_trend(spark, sf_dir):
    """Per-conversation Spearman rho of the signal vs the turn ordinal
    (sessionize.spearman_trend): Pearson on doubled midranks — six
    exact-long sufficient statistics, fixed double chains, monotone-
    invariant; oracle-replayable."""
    from z_rad_spark.operators.sessionize import spearman_trend

    out = spearman_trend(_t(spark, sf_dir))
    return _r6(out, ["rho"])


def q_role_runs(spark, sf_dir):
    """Per-conversation same-role run structure (gaps-and-islands, two
    row_numbers on one conv_id exchange — sessionize.role_run_stats):
    exact integers + one division, oracle-replayable."""
    from z_rad_spark.operators.sessionize import role_run_stats

    out = role_run_stats(_t(spark, sf_dir))
    return _r6(out, ["mean_run"])


def q_rank_norm(spark, sf_dir):
    """Per-conversation midrank quantile normalization of the signal
    (sessionize.with_rank_normalize): doubled-midrank exact integers
    (the mw_drift trick, windowed), ties share one u — deterministic
    under any partitioning, oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_rank_normalize

    out = with_rank_normalize(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "signal",
        "rank_u",
    )
    return _r6(out, ["signal", "rank_u"])


def q_echo_score(spark, sf_dir):
    """Per-turn echo (lag-1 distinct-token Jaccard) over transcripts
    (sessionize.with_echo_score): exact set sizes, one division, one
    lag window on the shared conv_id exchange — oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_echo_score

    out = with_echo_score(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "n_common",
        "n_union",
        "echo",
    )
    return _r6(out, ["echo"])


def q_rand_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection to 8 dims
    (similarity.random_project): literal seeded Gaussian matrix, one
    parsed fixed-order chain per output dim — pure narrow map, zero
    shuffles; the oracle regenerates the identical matrix (PCG64 +
    repr round-trip, the q_lsh_topk contract). The fitted-PCA twin
    (fit_pca + pca_project) shares this exact projection codepath and
    is numpy-parity pytested."""
    from z_rad_spark.operators.similarity import random_project

    out = random_project(_emb(spark, sf_dir), dim=64, out_dim=8, seed=29)
    cols = [f"p{j}" for j in range(1, 9)]
    return _r6(
        out.select(F.col("vec_id").cast("long"), *cols), cols
    )


def q_stream_psi(spark, sf_dir):
    """Streaming PSI drift monitor (streaming.streaming_psi): per
    closed 1-day tumbling window, the binned signal distribution scored
    against the pre-cutoff reference histogram (computed batch-side and
    folded in as literals — 9 driver-side longs). Same add-one
    smoothing, fixed-order term chain, and bands as the batch
    drift.psi_drift; the oracle recomputes the reference from the same
    predicate and replays every window's score bit-for-bit."""
    from z_rad_spark.streaming import streaming_psi

    ref_row = (
        _t(spark, sf_dir)
        .where(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(
            *[
                F.count(F.when(F.col("signal").cast("int") == b, 1)).alias(f"r{b}")
                for b in range(1, 10)
            ]
        )
        .collect()[0]
    )
    ref = [int(ref_row[f"r{b}"]) for b in range(1, 10)]
    res = _replay_stream(
        spark,
        sf_dir,
        lambda s: streaming_psi(s, ref, window="1 day", watermark="0 seconds"),
        "q_stream_psi_",
    )
    return _r6(
        res.select("window_start_us", "window_end_us", "n", "psi", "drift_band"),
        ["psi"],
    )


def q_welch_drift(spark, sf_dir):
    """Welch t + Cohen's d mean-shift drift per role between the
    pre/post cutoff windows (drift.welch_drift): six exact-long
    sufficient statistics from ONE aggregate (no window), fixed
    single-op float chains — oracle-replayable."""
    from z_rad_spark.operators.drift import welch_drift

    out = welch_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["mean_ref", "mean_cur", "t", "d"])


def q_js_drift(spark, sf_dir):
    """Jensen-Shannon divergence + normalized JS distance per role
    between the pre/post cutoff windows (drift.js_drift): one 2x9
    conditional-count aggregate, fixed-order term chain over the known
    bins — exact counts + structural float order, oracle-replayable
    bit-for-bit like psi_drift."""
    from z_rad_spark.operators.drift import js_drift

    out = js_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["jsd", "js_dist"])


def q_w1_drift(spark, sf_dir):
    """Wasserstein-1 (earth mover's) drift per role between the pre/post
    cutoff windows (drift.w1_drift): compacted (role, value) histogram,
    then an ORDER-FREE exact-integer sum of |CR*NC - CC*NR| * gap with
    one final division — the oracle replays W1 bit-for-bit regardless
    of aggregation order."""
    from z_rad_spark.operators.drift import w1_drift

    out = w1_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["w1"])


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley self-referenced mean-shift monitoring per
    conversation (drift.page_hinkley_summary): running mean -> prefix
    deviation sum -> running min, all on one conv_id exchange under the
    stable (ts, turn_idx) order — the float summation order is
    structural, so alarms replay bit-for-bit in the oracle's identical
    window spec."""
    from z_rad_spark.operators.drift import page_hinkley_summary

    out = page_hinkley_summary(_t(spark, sf_dir), delta=0.25, threshold=12.0)
    out = out.select("conv_id", "n_turns", "n_alarms", "max_ph", "first_alarm_us")
    return _r6(out, ["max_ph"])


def q_arrival_stats(spark, sf_dir):
    """Per-conversation arrival-process fingerprint
    (profile.arrival_stats): whole-second gap mean/CV, Goh-Barabási
    burstiness, hourly Fano factor over the full span. Exact integer
    gap sums and the (n*Sxx - Sx^2)/n^2 variance form make every float
    a fixed single-op chain — oracle-replayable."""
    from z_rad_spark.operators.profile import arrival_stats

    out = arrival_stats(_t(spark, sf_dir))
    return _r6(out, ["mean_gap_s", "cv_gap", "burstiness", "fano_hourly"])


def q_count_encode(spark, sf_dir):
    """Count / frequency / log-count / dense-popularity-rank / rare-flag
    encoding of the document source column
    (encoding.count_frequency_encode): one aggregate to |categories|
    rows, rank window on that compacted frame only, broadcast join back
    — integer counts + single-op floats, oracle-replayable."""
    from z_rad_spark.operators.encoding import count_frequency_encode

    out = count_frequency_encode(_docs(spark, sf_dir), "source", min_count=20)
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "cat_count",
        "cat_freq",
        "cat_logc",
        "cat_rank",
        "is_rare",
    )
    return _r6(out, ["cat_freq", "cat_logc"])


def q_source_concentration(spark, sf_dir):
    """Per-language source-concentration profile over documents
    (curation.source_concentration): HHI / effective-source count /
    top-source share from ONE (lang, source) aggregate — the sum of
    squared counts stays an exact long, each float is one division,
    oracle-replayable."""
    from z_rad_spark.operators.curation import source_concentration

    out = source_concentration(_docs(spark, sf_dir))
    return _r6(out, ["hhi", "eff_sources", "top_share"])


def q_robust_scale(spark, sf_dir):
    """Per-conversation median/MAD robust z-score of the signal
    (sessionize.with_robust_scale): both medians located by the at-rank
    window trick (no collect), NumPy lerp convention; integer signals
    make med/MAD exact multiples of 0.25 — oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_robust_scale

    out = with_robust_scale(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "signal",
        "med",
        "mad",
        "robust_z",
    )
    return _r6(out, ["med", "mad", "robust_z"])


def q_ewm_smooth(spark, sf_dir):
    """Truncated exponentially-weighted moving average of the signal
    (sessionize.with_ewm_smooth, alpha=0.5 lookback=8): 8 LAG reads in
    one window node, power-of-two weights — exact for integer signals,
    oracle-replayable."""
    from z_rad_spark.operators.sessionize import with_ewm_smooth

    out = with_ewm_smooth(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "signal",
        "ewm",
        "ewm_n",
    )
    return _r6(out, ["ewm"])


def q_pmi(spark, sf_dir):
    """Per-language top-20 PMI collocations over documents
    (text.pmi_collocations, min_count=2 at test scale): bigram/unigram
    exact-long counts, vocab-sized broadcast joins, pmi = one fixed
    multiply/divide/log2 chain — oracle-replayable."""
    from z_rad_spark.operators.text import pmi_collocations

    out = pmi_collocations(_docs(spark, sf_dir), k=20, min_count=2)
    return _r6(out, ["pmi"])


def q_ngram_novelty(spark, sf_dir):
    """Daily bigram novelty over transcripts (text.ngram_novelty):
    distinct (day, gram) grid, per-gram first-seen day with exchange
    reuse on the gram key, exact counts + one division —
    oracle-replayable."""
    from z_rad_spark.operators.text import ngram_novelty

    out = ngram_novelty(_t(spark, sf_dir), n=2)
    out = out.select(
        F.col("day").cast("string").alias("day"),
        "n_grams",
        "n_new",
        "novelty",
    )
    return _r6(out, ["novelty"])


def q_hurst_rs(spark, sf_dir):
    """Rescaled-range (R/S) Hurst statistic per conversation
    (profile.hurst_rs): exact integer prefix sums, fixed per-row
    deviation chains, max/min over deterministic doubles —
    oracle-replayable."""
    from z_rad_spark.operators.profile import hurst_rs

    out = hurst_rs(_t(spark, sf_dir))
    out = out.select("conv_id", "n", "rng", "sdev", "rs", "hurst")
    return _r6(out, ["rng", "sdev", "rs", "hurst"])


def q_sax_word(spark, sf_dir):
    """SAX motif word per conversation (profile.sax_word, w=4,
    4-symbol Gaussian alphabet): integer PAA sufficient statistics,
    fixed standardization chain, breakpoint CASE — exact string
    output, oracle-replayable."""
    from z_rad_spark.operators.profile import sax_word

    out = sax_word(_t(spark, sf_dir), w=4)
    return out.select("conv_id", "n", "n_segments", "word")


def q_cuped(spark, sf_dir):
    """CUPED-adjusted per-conversation post-period signal totals
    (drift.cuped_adjusted): exact integer half-split sums + global
    moment broadcast, fixed theta/adjustment chains —
    oracle-replayable."""
    from z_rad_spark.operators.drift import cuped_adjusted

    out = cuped_adjusted(_t(spark, sf_dir))
    out = out.select("conv_id", "n", "pre", "post", "theta", "adjusted")
    return _r6(out, ["theta", "adjusted"])


def q_edit_sim(spark, sf_dir):
    """Per-turn Levenshtein distance + normalized similarity to the
    previous turn (sessionize.with_edit_distance): built-in JVM
    levenshtein on one lag window, exact integers + one division —
    oracle-replayable (DuckDB implements the same unit-cost DP)."""
    from z_rad_spark.operators.sessionize import with_edit_distance

    out = with_edit_distance(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _us("ts", "ts_us"),
        "lev",
        "edit_sim",
    )
    return _r6(out, ["edit_sim"])


def q_gini(spark, sf_dir):
    """Gini coefficient of document char sizes per source
    (curation.gini_concentration): tie-stable rank window + exact
    integer rank-sum identity, one division — oracle-replayable."""
    from z_rad_spark.operators.curation import gini_concentration

    out = gini_concentration(_docs(spark, sf_dir), "n_chars", "source", "doc_id")
    return _r6(out, ["gini"])



def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test + Kendall tau-b per conversation
    (profile.mann_kendall): exact integer pairwise sign sum S, exact
    run-length tie terms, fixed 1-3-op IEEE chains for var_s/z/tau —
    oracle-replayable (the DuckDB oracle replays the pairwise
    self-join and tie table in exact integers)."""
    from z_rad_spark.operators.profile import mann_kendall

    out = mann_kendall(_t(spark, sf_dir))
    out = out.select("conv_id", "n", "s", "tie_pairs", "var_s", "z", "tau_b")
    return _r6(out, ["var_s", "z", "tau_b"])



def q_rbo(spark, sf_dir):
    """Rank-biased overlap between the BM25 lexical top-10 and the
    exact-cosine dense top-10 (similarity.rank_biased_overlap, p=0.9):
    exact integer prefix-overlap counts, plan-time literal weights,
    fixed left-associated 10-term chain — oracle-replayable (the DuckDB
    oracle rebuilds both rankings and embeds the identical weight
    literals)."""
    from z_rad_spark.operators.similarity import cosine_topk, rank_biased_overlap
    from z_rad_spark.operators.text import bm25_topk

    lex = bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, topk=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "rank",
    )
    e = _emb(spark, sf_dir)
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dense = cosine_topk(e, qs, k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("doc_id"),
        "rank",
    )
    out = rank_biased_overlap(lex, dense, p=0.9, k=10)
    return _r6(out, ["overlap_k", "rbo"])



def q_funnel(spark, sf_dir):
    """Ordered role funnel user -> assistant -> tool per conversation
    (sessionize.funnel_steps): exact integer ordinals, sequential
    conditional MINs, integer stage count — oracle-replayable with no
    rounding at all."""
    from z_rad_spark.operators.sessionize import funnel_steps

    return funnel_steps(_t(spark, sf_dir))



def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix over the raw events stream
    (profile.cohort_retention): Monday-start week truncation, exact
    integer user-week counts, one division — oracle-replayable with a
    single rounded column."""
    from z_rad_spark.operators.profile import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(ev)
    out = out.select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_cohort",
        "n_active",
        "retention",
    )
    return _r6(out, ["retention"])



def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival for time-to-first-tool-call with right
    censoring (profile.kaplan_meier, 60 s buckets): exact long
    durations/risk sets, fixed left-fold prefix products —
    oracle-replayable (the DuckDB oracle folds the identical factor
    list with list_reduce)."""
    from z_rad_spark.operators.profile import kaplan_meier

    out = kaplan_meier(_t(spark, sf_dir), event_role="tool", bucket_s=60)
    return _r6(out, ["s_km"])



def q_log_rank(spark, sf_dir):
    """Two-sample log-rank test, weekend-start vs weekday-start
    conversations (profile.log_rank, 60 s buckets): exact long risk
    sets, fixed per-bucket chains, bucket-ordered left folds —
    oracle-replayable (the DuckDB oracle folds the identical term
    lists with list_reduce)."""
    from z_rad_spark.operators.profile import log_rank

    out = log_rank(_t(spark, sf_dir), event_role="tool", bucket_s=60)
    return _r6(out, ["o_minus_e", "var_lr", "z", "chi2"])



def q_rfm(spark, sf_dir):
    """RFM per user over purchase events (profile.rfm_features): exact
    long recency/frequency/integer-cents monetary, one convenience
    division — oracle-replayable."""
    from z_rad_spark.operators.profile import rfm_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rfm_features(ev)
    return _r6(out, ["monetary"])


def q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters over events (sketches.
    count_min_heavy_hitters): 4x512 CMS with explicit universal hashes
    (pure integer arithmetic, exactly replayable in SQL — unlike HLL/GK
    the ESTIMATES themselves are hash-gated, no tolerance booleans).
    Fixed-size mergeable sketch, broadcast probe, TakeOrdered top-k."""
    from z_rad_spark.operators.sketches import count_min_heavy_hitters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return count_min_heavy_hitters(ev, key_col="user_id", width=512, depth=4, top_k=20)


def q_linear_count(spark, sf_dir):
    """Linear-counting distinct estimate per event_type (sketches.
    linear_count_by, m=4096 explicit-hash slots): est = -m*ln((m-z)/m)
    next to the exact distinct and its signed error — integer bucket
    arithmetic + one ln(), value-gated under 6dp rounding."""
    from z_rad_spark.operators.sketches import linear_count_by

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = linear_count_by(ev, group_col="event_type", key_col="user_id", m=4096)
    return _r6(out, ["est_distinct", "err_pct"])


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI of the per-event_type mean value
    (profile.poisson_bootstrap_ci, B=64): deterministic LCG->inverse-CDF
    Poisson(1) weights per (row, replicate), integer-cents weighted sums
    (exchange carries only groups x B partials), CI = order statistics
    of the exact replicate means — oracle-replayable end to end."""
    from z_rad_spark.operators.profile import poisson_bootstrap_ci

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = poisson_bootstrap_ci(
        ev, group_col="event_type", value_col="value", id_col="event_id", n_boot=64
    )
    return _r6(out, ["mean_hat", "ci_lo", "ci_hi"])


def q_split_contamination(spark, sf_dir):
    """Cross-split near-dup leakage (dedup.split_contamination): LSH
    candidate pairs whose endpoints fall in DIFFERENT hash_split buckets
    (the q_hash_split 0.8/0.1/0.1 assignment re-derived inline from each
    id — zero joins). The standard train/test contamination audit at the
    near-dup level."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs, split_contamination

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return split_contamination(pairs, {"train": 0.8, "val": 0.1, "test": 0.1})


def q_auc(spark, sf_dir):
    """Exact tie-corrected ROC AUC per source (drift.auc_binary): how
    well does raw document length separate English from non-English
    docs? (The Gopher pass flag is degenerate on the synthetic corpus —
    stop_hits never reaches 2 — so the gate labels on lang='en', a
    balanced split at every sf.) The Mann-Whitney doubled-midrank long
    algebra over the compacted (source, n_chars) histogram — rank
    cumsum over score CARDINALITY, not rows; one division —
    oracle-replayable."""
    from z_rad_spark.operators.drift import auc_binary

    d = _docs(spark, sf_dir).withColumn(
        "label", (F.col("lang") == F.lit("en")).cast("int")
    )
    out = auc_binary(d, score_col="n_chars", label_col="label", group_col="source")
    return _r6(out, ["auc"])


def q_lsh_recall(spark, sf_dir):
    """LSH calibration eval (dedup.lsh_recall_eval): recall/precision of
    the banded MinHash candidate generator (n_hashes=8, band_size=4,
    max_bucket=64 — the q_minhash_pairs production setting) against
    exact 3-gram Jaccard >= 0.5 ground truth. Exact longs via one
    full-outer pair join, two single divisions."""
    from z_rad_spark.operators.dedup import lsh_recall_eval

    out = lsh_recall_eval(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64, threshold=0.5
    )
    return _r6(out, ["recall", "precision"])


def q_jackknife(spark, sf_dir):
    """Delete-one-user jackknife SE of the per-event_type mean value
    (profile.jackknife_cluster_se): the cluster-robust complement to
    q_bootstrap_ci — per-user integer sums, exact leave-one-out ratios,
    ordered left folds over cluster aggregates (the log_rank idiom) —
    oracle-replayable term for term."""
    from z_rad_spark.operators.profile import jackknife_cluster_se

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = jackknife_cluster_se(ev)
    return _r6(out, ["mean_hat", "jk_se", "ci_lo", "ci_hi"])


def q_srm(spark, sf_dir):
    """Sample-ratio-mismatch guard on the q_hash_split assignment
    (curation.srm_check): chi-square GOF of realized vs configured
    0.8/0.1/0.1 fractions — one conditional-count aggregate, the
    chi-square sum a FIXED 3-slot expression (no float row
    aggregation) — oracle-replayable."""
    from z_rad_spark.operators.curation import srm_check

    out = srm_check(_docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1})
    return _r6(out, ["chi2"])


def q_perm_test(spark, sf_dir):
    """Randomization test for the weekend-vs-weekday mean value per
    event_type (profile.permutation_test, 64 relabelings): epoch-day
    day-of-week arithmetic (engine-portable), square-mod hash side
    flips, integer-cents sums, the explode collapsed map-side —
    oracle-replayable including the |diff| tail comparisons."""
    from z_rad_spark.operators.profile import permutation_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = permutation_test(ev, n_perm=64)
    return _r6(out, ["obs_diff", "p_hat"])


def q_kruskal(spark, sf_dir):
    """Kruskal-Wallis H across event types on value (drift.
    kruskal_wallis): global midranks over the compacted value histogram
    (the mw_drift doubled-rank longs), ordered group fold for the H sum,
    fixed tie correction — oracle-replayable bit for bit."""
    from z_rad_spark.operators.drift import kruskal_wallis

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(kruskal_wallis(ev), ["h", "h_corr"])


def q_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe variance-homogeneity W across sources on document
    length (drift.brown_forsythe): sorted-median centers, exact long
    2*sum|z| / 4*sum z^2 sufficient statistics, ordered between/within
    group folds — oracle-replayable."""
    from z_rad_spark.operators.drift import brown_forsythe

    return _r6(brown_forsythe(_docs(spark, sf_dir)), ["w_stat"])


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test per conversation (profile.runs_test):
    median-dichotomized turn-ordered sign list (ties dropped), exact
    integer run count via adjacent zip, fixed mu/var/z chain —
    oracle-replayable."""
    from z_rad_spark.operators.profile import runs_test

    return _r6(runs_test(_t(spark, sf_dir)), ["z"])


def q_avg_precision(spark, sf_dir):
    """Exact level-wise average precision per source (drift.
    average_precision): does raw length rank English docs first? The
    PR-curve companion to q_auc — compacted distinct-score levels, one
    window, desc-ordered term fold — oracle-replayable."""
    from z_rad_spark.operators.drift import average_precision

    d = _docs(spark, sf_dir).withColumn(
        "label", (F.col("lang") == F.lit("en")).cast("int")
    )
    return _r6(average_precision(d, "n_chars", "label"), ["ap"])


def q_cramers_v(spark, sf_dir):
    """Chi-square independence + Cramér's V between epoch-day
    day-of-week and event_type (drift.cramers_v): full r x c grid via a
    bounded marginal cross join, ordered cell fold — oracle-replayable.
    The dow derivation is permutation_test's engine-portable
    (epoch_day + 4) % 7."""
    from z_rad_spark.operators.drift import cramers_v

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    dow = F.pmod(
        F.floor(us.cast("double") / F.lit(86400000000.0)).cast("long") + F.lit(4),
        F.lit(7),
    )
    return _r6(cramers_v(ev, dow.alias("dow"), F.col("event_type")), ["chi2", "v"])


def q_burstiness(spark, sf_dir):
    """Fano factor / inter-arrival CV / Goh-Barabási B per event_type
    (profile.burstiness): exact long hour-bucket counts, one lag window
    for gaps, DECIMAL(38,0) square-sum headroom — oracle-replayable."""
    from z_rad_spark.operators.profile import burstiness

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(burstiness(ev), ["fano", "cv_gap", "burstiness"])


def q_hll(spark, sf_dir):
    """Explicit 256-register HyperLogLog distinct-users estimate per
    event_type (sketches.hyperloglog_by): integer CASE-ladder ranks,
    bucket-ordered dyadic fold, linear-counting small-range correction
    — the estimate ITSELF is value-gated (unlike HLL++)."""
    from z_rad_spark.operators.sketches import hyperloglog_by

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hyperloglog_by(ev, group_col="event_type", key_col="user_id", p_bits=8)
    return _r6(out, ["est_distinct", "err_pct"])


def q_chao1(spark, sf_dir):
    """Chao1 richness + Good-Turing unseen mass per source
    (text.chao1_richness): exact long (D, N, f1, f2) over the q_vocab
    tokenization, three fixed estimate chains — oracle-replayable."""
    from z_rad_spark.operators.text import chao1_richness

    return _r6(
        chao1_richness(_docs(spark, sf_dir)), ["chao1", "gt_unseen", "coverage"]
    )


def q_pagerank(spark, sf_dir):
    """4-iteration PageRank over the bipartite user x (event_type:dow)
    interaction graph (graph.pagerank_bipartite, d=0.85, exact src-
    ordered contribution folds): top-20 nodes by rank with the
    deterministic (pr desc, node asc) tie-break; pr scaled by N so 1.0
    = uniform baseline. The composite right node (35 slots) keeps user
    degrees non-degenerate — plain event_type saturates (every user
    touches all 5). Oracle = the identical 4 unrolled iterations."""
    from z_rad_spark.operators.graph import pagerank_bipartite

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    dow = F.pmod(
        F.floor(us.cast("double") / F.lit(86400000000.0)).cast("long") + F.lit(4),
        F.lit(7),
    )
    ev = ev.withColumn(
        "rnode", F.concat(F.col("event_type"), F.lit(":"), dow.cast("string"))
    )
    out = pagerank_bipartite(
        ev, left_col="user_id", right_col="rnode", n_iter=4, top_k=20
    )
    return _r6(out, ["pr_scaled"])


def q_ad_drift(spark, sf_dir):
    """Two-sample Anderson-Darling drift per role between the pre/post
    cutoff windows (drift.ad_drift, Scholz-Stephens tie-adjusted k=2):
    the tail-sensitive member of the KS/MW/Welch battery — compacted
    exact-long block counts, guarded fixed per-block chains,
    value-ordered folds — oracle-replayable."""
    from z_rad_spark.operators.drift import ad_drift

    out = ad_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["a2"])


def q_f_oneway(spark, sf_dir):
    """One-way ANOVA F across event types on value (drift.f_oneway):
    integer-cents exact sufficient statistics (DECIMAL(38,0) square
    sums), group-ordered between/within folds — oracle-replayable. The
    parametric sibling of q_kruskal."""
    from z_rad_spark.operators.drift import f_oneway

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(f_oneway(ev), ["f_stat"])


def q_mcnemar(spark, sf_dir):
    """McNemar's paired pre/post purchase-flip test across the cutoff
    (drift.mcnemar): per-user paired binary flags, discordant-cell
    continuity-corrected chi-square — exact integers, one fixed float
    chain — oracle-replayable. The within-subject churn complement to
    the population drift battery."""
    from z_rad_spark.operators.drift import mcnemar

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(mcnemar(ev, split_ts="2024-01-15 00:00:00"), ["chi2"])


def q_triangles(spark, sf_dir):
    """Triangle census of the LSH candidate-pair graph
    (graph.triangle_stats over dedup.minhash_lsh_pairs, the
    q_minhash_pairs production setting): degree-oriented wedge join
    closed against the undirected edge set — exact long counts, one
    final division (transitivity). Near-1 transitivity = duplicate
    cliques; near-0 = banding chains."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import triangle_stats

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(triangle_stats(pairs), ["transitivity"])


def q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality screen per role (drift.jarque_bera): four
    exact long power sums from ONE aggregate, fixed central-moment /
    skew / kurtosis chains — oracle-replayable."""
    from z_rad_spark.operators.drift import jarque_bera

    return _r6(jarque_bera(_t(spark, sf_dir)), ["skewness", "kurtosis", "jb"])


def q_yule_k(spark, sf_dir):
    """Yule's K / Simpson repeat probability / Herfindahl per source
    (text.lexical_concentration): exact (N, D, sum c^2) longs over the
    q_vocab tokenization, three fixed chains — oracle-replayable. The
    concentration flip side of q_chao1's missing-vocabulary view."""
    from z_rad_spark.operators.text import lexical_concentration

    return _r6(
        lexical_concentration(_docs(spark, sf_dir)),
        ["yule_k", "simpson_d", "herfindahl"],
    )


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard + Fleming-Harrington survival for
    time-to-first-tool-call with censoring (profile.nelson_aalen, 60 s
    buckets): the kaplan_meier machinery with bucket-ordered SUM folds
    (hazard + Poisson variance) — oracle-replayable."""
    from z_rad_spark.operators.profile import nelson_aalen

    out = nelson_aalen(_t(spark, sf_dir), event_role="tool", bucket_s=60)
    return _r6(out, ["h_na", "var_h", "s_fh"])


def q_hits(spark, sf_dir):
    """HITS hubs & authorities over the bipartite user x
    (event_type:dow) graph (graph.hits_bipartite, 3 iterations):
    neighbor-ordered contribution folds + node-ordered L2
    normalization folds; top-10 per kind with the deterministic
    (score desc, node asc) tie-break. Oracle = the identical 3
    unrolled iterations."""
    from z_rad_spark.operators.graph import hits_bipartite

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    dow = F.pmod(
        F.floor(us.cast("double") / F.lit(86400000000.0)).cast("long") + F.lit(4),
        F.lit(7),
    )
    ev = ev.withColumn(
        "rnode", F.concat(F.col("event_type"), F.lit(":"), dow.cast("string"))
    )
    out = hits_bipartite(ev, left_col="user_id", right_col="rnode", n_iter=3)
    return _r6(out, ["score"])


def q_label_prop(spark, sf_dir):
    """Synchronous 3-iteration label-propagation community summary of
    the LSH candidate-pair graph (graph.label_propagation): exact
    integer majority-label argmax per node with (count desc, label
    asc) tie-breaks — oracle-replayable iteration for iteration. The
    density-aware complement to q_dup_clusters' transitive closure."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import label_propagation

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(label_propagation(pairs), ["mean_size"])


def q_stream_hll(spark, sf_dir):
    """Stateful streaming HyperLogLog (streaming.streaming_hll via
    applyInPandasWithState): fixed 256-register state per event_type,
    square-mod mixing hash, bucket-ordered dyadic fold at emission.
    availableNow = one micro-batch, so the emitted row IS the final
    sketch — the batch q_hll SQL oracle (registers replayed in SQL)
    hash-matches it bit-for-bit, verifying the streaming/batch sketch
    consistency end to end."""
    from z_rad_spark.streaming import streaming_hll

    res = _replay_stream(spark, sf_dir, streaming_hll, "q_stream_hll_", _event_keys)
    return _r6(res, ["est_distinct"])


def q_corr_drift(spark, sf_dir):
    """Fisher-z correlation drift per role across the cutoff
    (drift.corr_drift): does the signal x second-of-day coupling move?
    Exact long sufficient statistics from one aggregate, fixed
    r / atanh / z chains — oracle-replayable."""
    from z_rad_spark.operators.drift import corr_drift

    out = corr_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["r_ref", "r_cur", "z"])


def q_energy_drift(spark, sf_dir):
    """Two-sample energy distance per role across the cutoff
    (drift.energy_drift): the omnibus characteristic-function test —
    exact long pair-grid numerators over the compacted 9-value
    histogram, three divisions — oracle-replayable."""
    from z_rad_spark.operators.drift import energy_drift

    out = energy_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["e_xy", "e_xx", "e_yy", "energy"])


def q_kcore(spark, sf_dir):
    """k-core peeling summary of the LSH candidate-pair graph
    (graph.kcore_peel, k=2, 4 rounds): per-round node/edge counts plus
    a converged flag — exact longs only, no floats. Duplicate cliques
    survive peeling; banding chains unravel — the robustness complement
    to q_triangles' transitivity."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import kcore_peel

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return kcore_peel(pairs, k=2, n_rounds=4)


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the LSH candidate-pair graph
    (graph.degree_assortativity): Pearson correlation of edge-endpoint
    degrees from exact integer sufficient statistics (DECIMAL(38,0)
    products), ONE final division — oracle-replayable. Negative r =
    hub-and-spoke banding artifacts; positive r = clique-on-clique."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import degree_assortativity

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(degree_assortativity(pairs), ["assortativity"])


def q_kn_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity per document
    (curation.kneser_ney_logprob): the KenLM-style smoothing behind
    CCNet quality filters — absolute discount 0.75, continuation-count
    unigram backoff, exact long counts, one pinned double chain per
    position, ordered positional log-sum fold. Full value hash like
    q_bigram_lm."""
    from z_rad_spark.operators.curation import kneser_ney_logprob

    out = kneser_ney_logprob(_docs(spark, sf_dir, spread=False))
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "nll",
        "ppl",
    )
    return _r6(out, ["nll", "ppl"])


def q_isotonic(spark, sf_dir):
    """Per-conversation isotonic (non-decreasing PAVA) fit of the turn
    signal (encoding.isotonic_fit): exact integer block moments inside
    one Arrow-batched applyInPandas kernel, one division per pooled
    block. The oracle replays it via the Ayer min-max closed form —
    monotone IEEE division makes the double min/max equal the rational
    min/max, so the gate is a full value hash despite the engine being
    a sequential O(n) kernel."""
    from z_rad_spark.operators.encoding import isotonic_fit

    out = isotonic_fit(_t(spark, sf_dir))
    out = out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts_us",
        "x",
        "iso_fit",
    )
    return _r6(out, ["iso_fit"])


def q_k_anon(spark, sf_dir):
    """k-anonymity audit of the corpus over the (lang, source,
    length-bucket) quasi-identifier tuple (curation.k_anonymity):
    equivalence-class size distribution with cumulative at-risk share —
    exact longs, one share division. The privacy gate beside
    q_pii_redact's content scrubbing."""
    from z_rad_spark.operators.curation import k_anonymity

    docs = _docs(spark, sf_dir).withColumn(
        "len_bucket", F.expr("n_chars DIV 200").cast("long")
    )
    out = k_anonymity(docs, quasi_cols=("lang", "source", "len_bucket"), k=5)
    return _r6(out, ["risk_share"])


def q_bpe_step(spark, sf_dir):
    """One BPE merge step over the corpus vocabulary
    (text.bpe_top_pairs): adjacent symbol pairs weighted by word
    frequency, rank 1 = the next merge a tokenizer trainer would apply.
    Exact long counts, pair-string tie-breaks; after the one corpus
    count the plan never touches the corpus again."""
    from z_rad_spark.operators.text import bpe_top_pairs

    return bpe_top_pairs(_docs(spark, sf_dir), k=15)


def q_dbscan(spark, sf_dir):
    """DBSCAN-style density labels over the multi-table LSH candidate
    graph (similarity.dbscan_labels, tau=0.3, minPts=4): core = dense
    paraphrase cluster member, border = fringe, noise = diversity tail.
    Exact long neighbor counts; the oracle replays all four seeded
    hyperplane tables literally, so labels hash-match bit-for-bit."""
    from z_rad_spark.operators.similarity import dbscan_labels

    return dbscan_labels(_emb(spark, sf_dir))


def q_wl_templates(spark, sf_dir):
    """Weisfeiler-Lehman structural templates: 2-round WL color
    refinement over each conversation's role-transition multigraph
    (graph.wl_conversation_fingerprint), SHA-256 colors so both engines
    refine identically. Groups conversations by SHAPE (who talks after
    whom, how often) regardless of text — the structural complement to
    q_template_groups' text fingerprints. No floats; full value hash."""
    from z_rad_spark.operators.graph import wl_conversation_fingerprint

    return wl_conversation_fingerprint(_t(spark, sf_dir), n_rounds=2)


def q_assoc_rules(spark, sf_dir):
    """Pairwise association rules over per-user event baskets
    (profile.assoc_rules): support / confidence both directions / lift
    from exact long counts — which behaviors co-occur beyond their
    marginals. Top-20 by (lift desc, pair) — the event alphabet caps
    pairs at C(6,2), so the limit never cuts a tie."""
    from z_rad_spark.operators.profile import assoc_rules

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = assoc_rules(events, group_col="user_id", item_col="event_type", top_k=20)
    return _r6(out, ["support", "conf_ab", "conf_ba", "lift"])


def q_conformal(spark, sf_dir):
    """Split-conformal prediction interval per role across the cutoff
    (drift.conformal_interval, 90%): conformal radius from an integer
    rank threshold on the compacted calibration-residual histogram,
    coverage measured on the deployment window — distribution-free
    uncertainty monitoring beside the drift battery."""
    from z_rad_spark.operators.drift import conformal_interval

    out = conformal_interval(
        _t(spark, sf_dir), split_ts="2024-01-15 00:00:00", level_pct=90
    )
    return _r6(out, ["mean_ref", "radius", "coverage"])


def q_label_noise(spark, sf_dir):
    """Confident-learning label-noise estimate
    (encoding.confident_learning_noise over the hashed quality
    classifier vs the lang=='en' label): class-conditional thresholds
    from sorted compacted-histogram folds, exact-long confident joint,
    off-diagonal mass = estimated label error rate. The label-quality
    screen beside q_calibration's probability-quality screen."""
    from z_rad_spark.operators.curation import quality_classifier
    from z_rad_spark.operators.encoding import confident_learning_noise

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    labels = _docs(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "en").alias("label_true")
    )
    out = confident_learning_noise(scored.join(labels, "doc_id"))
    return _r6(out, ["t_pos", "t_neg", "noise_rate"])


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link scores over the LSH candidate-pair graph
    (graph.adamic_adar, top-20, exclude_edges=False): common-neighbour
    / log-degree scores for every wedge-connected pair with an is_edge
    flag — non-edges are LSH recall-repair candidates, edges ranked by
    embeddedness (the similarity-graph sparsification index). Sorted
    centre-node folds, exact long counts — oracle-replayable."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import adamic_adar

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    out = adamic_adar(pairs, top_k=20, exclude_edges=False)
    return _r6(out, ["aa", "jaccard"])


def q_kmv(spark, sf_dir):
    """K-minimum-values distinct-users estimate per event_type
    (sketches.kmv_distinct_by, k=64): the set-operable cardinality
    sketch beside q_hll / q_linear_count — k-th-smallest mixed hash as
    an exact integer order statistic, one fixed estimate chain."""
    from z_rad_spark.operators.sketches import kmv_distinct_by

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = kmv_distinct_by(ev, group_col="event_type", key_col="user_id", k=64)
    return _r6(out, ["est_distinct", "err_pct"])


def q_ar2(spark, sf_dir):
    """Per-conversation AR(2) Yule-Walker fit of the turn signal
    (sessionize.ar2_yule_walker): phi1/phi2 (= PACF lag 2), innovation
    variance ratio, and the point-in-time one-step forecast from the
    last two turns in stable order — the model-fitting step on top of
    q_autocorr's descriptive r_k. Exact-long sufficient statistics,
    fixed float chains — oracle-replayable."""
    from z_rad_spark.operators.sessionize import ar2_yule_walker

    out = ar2_yule_walker(_t(spark, sf_dir))
    return _r6(out, ["r1", "r2", "phi1", "phi2", "sigma_ratio", "forecast"])


def q_l_diversity(spark, sf_dir):
    """l-diversity audit over the (lang, length-bucket) quasi tuple
    with source as the sensitive attribute (curation.l_diversity,
    l=3): distribution over distinct-sensitive-value counts per
    equivalence class — the homogeneity-attack gate beside q_k_anon's
    class-size gate. Exact longs, one share division."""
    from z_rad_spark.operators.curation import l_diversity

    docs = _docs(spark, sf_dir).withColumn(
        "len_bucket", F.expr("n_chars DIV 200").cast("long")
    )
    out = l_diversity(
        docs, quasi_cols=("lang", "len_bucket"), sensitive_col="source",
        l_threshold=3,
    )
    return _r6(out, ["risk_share"])


def q_stump(spark, sf_dir):
    """Optimal Gini decision stump of n_chars against the lang=='en'
    label (encoding.gini_stump): CART's root split as supervised
    binning — exact long cumulative counts over the value-sorted
    compacted histogram, fixed impurity chains, (split, threshold)
    total-order argmin. The monotone-binning screen beside q_woe_iv."""
    from z_rad_spark.operators.encoding import gini_stump

    docs = _docs(spark, sf_dir).withColumn(
        "label_true", F.col("lang") == "en"
    )
    out = gini_stump(docs, feature_col="n_chars", label_col="label_true")
    return _r6(out, ["gini_root", "gini_split", "gain"])


def q_err(spark, sf_dir):
    """Expected Reciprocal Rank @5 of the IVF index against the
    exact-cosine baseline (similarity.err_at_k): the cascade-model
    ranking metric beside q_ndcg — literal graded stop probabilities,
    one unrolled continuation-product chain, bit-replayable."""
    from z_rad_spark.operators.similarity import err_at_k

    out = err_at_k(q_ivf_topk(spark, sf_dir), q_cosine_topk(spark, sf_dir), k=5)
    return _r6(out, ["err"])


def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta effect size of language on document length
    (drift.cliffs_delta, en vs rest on n_chars): signed dominance
    P(A>B) - P(A<B) with the tie mass exposed — exact long pair
    classes over the compacted value histogram, no pair explode."""
    from z_rad_spark.operators.drift import cliffs_delta

    docs = _docs(spark, sf_dir).withColumn("is_a", F.col("lang") == "en")
    out = cliffs_delta(docs, flag_col="is_a", value_col="n_chars")
    return _r6(out, ["delta", "p_gt", "p_lt", "p_tie"])


def q_ordinal_assoc(spark, sf_dir):
    """Goodman-Kruskal gamma / Somers' D / Kendall tau-b between the
    char-length bucket and the token-count bucket of documents
    (drift.ordinal_assoc): concordance over the compacted k x m
    contingency — exact long C/D/tie terms, broadcast cell-pair join
    bounded by cell count, fixed ratio chains."""
    from z_rad_spark.operators.drift import ordinal_assoc

    docs = _docs(spark, sf_dir).select(
        F.expr("n_chars DIV 100").cast("long").alias("x_bucket"),
        (F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) / F.lit(20))
        .cast("long")
        .alias("y_bucket"),
    )
    out = ordinal_assoc(docs, x_col="x_bucket", y_col="y_bucket")
    return _r6(out, ["gamma", "somers_dyx", "somers_dxy", "tau_b"])


def q_friedman(spark, sf_dir):
    """Friedman rank test + Kendall's W across the three transcript
    roles with conversations as complete blocks (drift.friedman_test
    on per-role mean signal): within-block doubled midranks (exact
    integers), exact long rank-sum squares and tie cubes, fixed
    rational chi2 chains."""
    from z_rad_spark.operators.drift import friedman_test

    out = friedman_test(
        _t(spark, sf_dir), roles=("user", "assistant", "tool")
    )
    return _r6(out, ["chi2", "chi2_corrected", "kendalls_w"])


def q_bartlett(spark, sf_dir):
    """Bartlett variance-homogeneity test of the signal across roles
    (drift.bartlett_test): exact long per-role (n, S, SS), ordered
    group-name folds for the pooled/log/inverse reductions, fixed
    chi2 chain — oracle-replayable."""
    from z_rad_spark.operators.drift import bartlett_test

    out = bartlett_test(_t(spark, sf_dir), group_col="role", value_col="signal")
    return _r6(out, ["sp2", "stat"])


def q_wilcoxon(spark, sf_dir):
    """Wilcoxon signed-rank test on the per-conversation pre/post
    signal-mass pairing (drift.wilcoxon_signed_rank): exact long
    differences, doubled midranks over the compacted |d| histogram,
    exact long 2W+/mu2/v48, two-op z chain — oracle-replayable."""
    from z_rad_spark.operators.drift import wilcoxon_signed_rank

    out = wilcoxon_signed_rank(_t(spark, sf_dir))
    return _r6(out, ["w_plus", "z"])


def q_cochran_q(spark, sf_dir):
    """Cochran's Q across the three role success indicators with
    conversations as blocks (drift.cochran_q, threshold 5): all-integer
    quadratic forms, ONE long-ratio division — oracle-replayable with
    no rounding at all in the sufficient statistics."""
    from z_rad_spark.operators.drift import cochran_q

    out = cochran_q(_t(spark, sf_dir))
    return _r6(out, ["q"])


def q_icc(spark, sf_dir):
    """One-way random-effects ICC(1,1) with conversations as groups
    (drift.icc_oneway): exact long sufficient statistics, ordered
    conv_id fold for sum S_i^2/n_i, fixed MSB/MSW/n0/icc chains —
    oracle-replayable."""
    from z_rad_spark.operators.drift import icc_oneway

    out = icc_oneway(_t(spark, sf_dir))
    return _r6(out, ["msb", "msw", "n0", "icc"])


def q_perm_entropy(spark, sf_dir):
    """Order-3 permutation entropy per conversation
    (profile.permutation_entropy): tie-coded 3-bit ordinal patterns,
    exact integer counts, <=8-term ordered entropy fold —
    oracle-replayable."""
    from z_rad_spark.operators.profile import permutation_entropy

    out = permutation_entropy(_t(spark, sf_dir))
    return _r6(out, ["h", "h_norm"])


def q_turning_points(spark, sf_dir):
    """Turning-points randomness test per conversation
    (profile.turning_points): exact long extremum counts under strict
    comparisons, one-division E/Var chains — oracle-replayable."""
    from z_rad_spark.operators.profile import turning_points

    out = turning_points(_t(spark, sf_dir))
    return _r6(out, ["expected", "z"])


def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau whiteness test at lags 1..5 per
    conversation (profile.ljung_box): exact long n^2*c_k deviation
    cross-moments, one long-ratio division per r_k, fixed 5-term Q
    chain — oracle-replayable."""
    from z_rad_spark.operators.profile import ljung_box

    out = ljung_box(_t(spark, sf_dir), lags=5)
    return _r6(out, ["r1", "r2", "r3", "r4", "r5", "q_lb"])


def q_mase(spark, sf_dir):
    """Season-3 naive-forecast MASE per conversation
    (profile.seasonal_naive_mase): exact long absolute-deviation sums,
    three-op MAE/ratio chain — oracle-replayable."""
    from z_rad_spark.operators.profile import seasonal_naive_mase

    out = seasonal_naive_mase(_t(spark, sf_dir), season=3)
    return _r6(out, ["mae_naive", "mae_season", "mase"])


def q_did(spark, sf_dir):
    """Difference-in-differences on the md5 conv split x literal
    cutoff (drift.diff_in_diff): exact long cell moments, fixed
    did/se/t chains — oracle-replayable (md5 split included)."""
    from z_rad_spark.operators.drift import diff_in_diff

    out = diff_in_diff(_t(spark, sf_dir))
    return _r6(out, ["m_cp", "m_ct", "m_tp", "m_tt", "did", "se", "t_stat"])


def q_delta_ratio(spark, sf_dir):
    """Delta-method CI for the corpus user-turn-share ratio metric
    (drift.delta_ratio_ci): exact long per-conversation (x, y) and
    cross-moments, fixed ratio/se/ci chains with the literal z_0.975 —
    oracle-replayable."""
    from z_rad_spark.operators.drift import delta_ratio_ci

    out = delta_ratio_ci(_t(spark, sf_dir))
    return _r6(out, ["ratio", "se", "lo", "hi"])


def q_sprt(spark, sf_dir):
    """Wald SPRT per conversation on the signal>=5 Bernoulli stream
    (drift.sprt_bernoulli, p0=0.4 vs p1=0.6, alpha=beta=0.05): exact
    long expanding counts, plan-time log literals, conditional-MIN
    crossing ordinals — oracle-replayable."""
    from z_rad_spark.operators.drift import sprt_bernoulli

    out = sprt_bernoulli(_t(spark, sf_dir))
    return _r6(out, ["llr_final"])


def q_cindex(spark, sf_dir):
    """Harrell's C-index for time-to-first-tool against the mean-signal
    risk score (profile.concordance_index): exact integer cross-product
    score comparisons over the opt-in O(k^2) conversation-summary pair
    join, ONE final division — oracle-replayable."""
    from z_rad_spark.operators.profile import concordance_index

    out = concordance_index(_t(spark, sf_dir))
    return _r6(out, ["c_index"])


def q_good_turing(spark, sf_dir):
    """Good-Turing counts-of-counts re-estimation over the document
    unigram counts (text.good_turing): exact long N_r table, two-op
    r*/p chains, r=0 unseen-mass row — oracle-replayable."""
    from z_rad_spark.operators.text import good_turing

    out = good_turing(_docs(spark, sf_dir))
    return _r6(out, ["r_star", "p_r"])


def q_log_odds(spark, sf_dir):
    """Monroe log-odds-ratio keyness with informative Dirichlet prior,
    en vs rest (text.log_odds_keyness, a0=10, min_count=5, top-20 by
    |z|): exact long counts, fixed delta/z chains — oracle-replayable."""
    from z_rad_spark.operators.text import log_odds_keyness

    out = log_odds_keyness(_docs(spark, sf_dir))
    return _r6(out, ["delta", "z"])


def q_chi2_tokens(spark, sf_dir):
    """Chi-squared token-vs-label feature selection on document
    frequency, en vs rest (text.chi2_token_selection, min_df=3,
    top-20): exact long 2x2 margins, one double square, fixed chi2
    chain — oracle-replayable."""
    from z_rad_spark.operators.text import chi2_token_selection

    out = chi2_token_selection(_docs(spark, sf_dir))
    return _r6(out, ["chi2"])


def q_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient on the LSH candidate-pair
    graph (graph.local_clustering over dedup.minhash_lsh_pairs, the
    q_minhash_pairs setting): degree-oriented triangle credits, exact
    long counts, one division — oracle-replayable."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import local_clustering

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(local_clustering(pairs), ["clustering"])


def q_brier(spark, sf_dir):
    """Brier score + Murphy decomposition for the hashed quality
    classifier against lang=='en' (encoding.brier_decomposition): the
    calibration_bins ordered-fold idiom on the 6dp-rounded probability
    — exact counts, bit-replayable folds."""
    from z_rad_spark.operators.curation import quality_classifier
    from z_rad_spark.operators.encoding import brier_decomposition

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    labels = _docs(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "en").alias("label_true")
    )
    out = brier_decomposition(scored.join(labels, "doc_id"), "prob", "label_true", 10)
    return _r6(out, ["brier", "rel", "res", "unc", "brier_binned"])


def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa with conversations as items, the first 3 scored
    turns as positional raters, signal value as category
    (drift.fleiss_kappa): exact long panel counts, fixed rational
    Pbar/Pe/kappa chains — oracle-replayable."""
    from z_rad_spark.operators.drift import fleiss_kappa

    out = fleiss_kappa(_t(spark, sf_dir))
    return _r6(out, ["pbar", "pe", "kappa"])


def q_sample_entropy(spark, sf_dir):
    """Sample entropy m=2, r=1 per conversation
    (profile.sample_entropy): exact integer template-match counts over
    the opt-in per-conversation O(len^2) pair join, one division + one
    log — oracle-replayable."""
    from z_rad_spark.operators.profile import sample_entropy

    out = sample_entropy(_t(spark, sf_dir))
    return _r6(out, ["sampen"])


def q_naive_bayes(spark, sf_dir):
    """Multinomial naive-Bayes language self-scoring with add-1
    smoothing (text.naive_bayes_lang): exact long counts, position-
    ordered per-doc log folds, deterministic lang-asc argmax —
    oracle-replayable."""
    from z_rad_spark.operators.text import naive_bayes_lang

    out = naive_bayes_lang(_docs(spark, sf_dir))
    return _r6(out, ["logprob", "margin"])


def q_kripp_alpha(spark, sf_dir):
    """Krippendorff's nominal alpha over variable-size first-5-turn
    panels (drift.krippendorff_alpha): exact long coincidence counts,
    conv-ordered unit fold + category-ordered marginal fold —
    oracle-replayable."""
    from z_rad_spark.operators.drift import krippendorff_alpha

    out = krippendorff_alpha(_t(spark, sf_dir))
    return _r6(out, ["d_o", "d_e", "alpha"])


def q_hedges_g(spark, sf_dir):
    """Hedges' g effect size user vs assistant signal
    (drift.hedges_g): exact long group moments, fixed pooled-SD/d/J
    chains — oracle-replayable."""
    from z_rad_spark.operators.drift import hedges_g

    out = hedges_g(_t(spark, sf_dir))
    return _r6(out, ["mean_a", "mean_b", "sp", "d", "g"])


def q_grubbs(spark, sf_dir):
    """Grubbs' max-deviation outlier statistic per role
    (drift.grubbs_max): integer |n*x - S| argmax over the compacted
    histogram, fixed G chain — oracle-replayable."""
    from z_rad_spark.operators.drift import grubbs_max

    out = grubbs_max(_t(spark, sf_dir))
    return _r6(out, ["g"])


def q_lift_curve(spark, sf_dir):
    """Cumulative gains / lift deciles for the hashed quality
    classifier against lang=='en' (encoding.lift_curve): deterministic
    (prob6 desc, doc_id asc) ranking, exact cumulative counts, fixed
    lift/capture chains — oracle-replayable."""
    from z_rad_spark.operators.curation import quality_classifier
    from z_rad_spark.operators.encoding import lift_curve

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    labels = _docs(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "en").alias("label_true")
    )
    out = lift_curve(scored.join(labels, "doc_id"), "prob", "label_true")
    return _r6(out, ["lift", "capture"])


def q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa between each conversation's first two scored turns
    (drift.cohen_kappa): exact contingency longs, double-square pe —
    oracle-replayable."""
    from z_rad_spark.operators.drift import cohen_kappa

    out = cohen_kappa(_t(spark, sf_dir))
    return _r6(out, ["po", "pe", "kappa"])


def q_theil_u(spark, sf_dir):
    """Theil's U(tool-bucket | role) (drift.theil_u): exact cell longs,
    category-ordered entropy folds — oracle-replayable."""
    from z_rad_spark.operators.drift import theil_u

    t = _t(spark, sf_dir).withColumn("_yb", F.coalesce(F.col("tool"), F.lit("none")))
    out = theil_u(t, x_col="role", y_col="_yb")
    return _r6(out, ["h_y", "h_y_given_x", "u"])


def q_gk_lambda(spark, sf_dir):
    """Goodman-Kruskal lambda(tool-bucket | role) (drift.gk_lambda):
    pure exact-long modal counts, one division — oracle-replayable."""
    from z_rad_spark.operators.drift import gk_lambda

    t = _t(spark, sf_dir).withColumn("_yb", F.coalesce(F.col("tool"), F.lit("none")))
    out = gk_lambda(t, x_col="role", y_col="_yb")
    return _r6(out, ["lam"])


def q_t_closeness(spark, sf_dir):
    """t-closeness of each lang class's doc-length-level distribution
    vs the corpus (curation.t_closeness, levels = min(n_chars div 64,
    7)): exact cumulative longs, level-ordered EMD fold —
    oracle-replayable."""
    from z_rad_spark.operators.curation import t_closeness

    d = _docs(spark, sf_dir).withColumn(
        "sensitive", F.least(F.floor(F.col("n_chars") / F.lit(64)), F.lit(7)).cast("long")
    )
    out = t_closeness(d, quasi_cols=("lang",), sensitive_col="sensitive")
    return _r6(out, ["t"])


def q_kendall_w(spark, sf_dir):
    """Kendall's concordance W over first-3-turn panels
    (drift.kendall_w): exact doubled-rank integers, tie-corrected, one
    division — oracle-replayable."""
    from z_rad_spark.operators.drift import kendall_w

    out = kendall_w(_t(spark, sf_dir))
    return _r6(out, ["w"])


def q_cronbach(spark, sf_dir):
    """Cronbach's alpha over first-3-turn panels (drift.cronbach_alpha):
    exact long moments, item-ordered variance fold — oracle-replayable."""
    from z_rad_spark.operators.drift import cronbach_alpha

    out = cronbach_alpha(_t(spark, sf_dir))
    return _r6(out, ["sum_item_var", "var_total", "alpha"])


def q_mood_median(spark, sf_dir):
    """Mood's median test across roles (drift.mood_median):
    integer-rank grand median over the compacted histogram, exact cell
    longs, group-ordered chi2 fold — oracle-replayable."""
    from z_rad_spark.operators.drift import mood_median

    out = mood_median(_t(spark, sf_dir))
    return _r6(out, ["chi2"])


def q_rmst(spark, sf_dir):
    """Restricted mean time-to-first-tool at tau = 30 min
    (profile.rmst): area under the exact KM fold, bucket-ordered
    interval fold + tail term — oracle-replayable."""
    from z_rad_spark.operators.profile import rmst

    out = rmst(_t(spark, sf_dir), tau_buckets=30)
    return _r6(out, ["rmst_s"])


def q_bloom_fpr(spark, sf_dir):
    """Bloom-filter false-positive audit for the dedup prefilter use
    case: doc-text md5 hashes of the src0-src9 half as members, unseen
    hashes of the other sources as probes (sketches.bloom_fpr, m=1024,
    k=3): exact md5 bucket set algebra, fill-ratio expected chain —
    oracle-replayable."""
    from z_rad_spark.operators.sketches import bloom_fpr

    srcs = [f"src{i}" for i in range(10)]
    d = _docs(spark, sf_dir).select(F.md5(F.col("text")).alias("token"), "source")
    out = bloom_fpr(
        d.where(F.col("source").isin(srcs)),
        d.where(~F.col("source").isin(srcs)),
        m_bits=1024,
    )
    return _r6(out, ["fpr", "expected_fpr"])


def q_ild(spark, sf_dir):
    """Intra-list diversity of the cosine top-5 lists for the first 5
    query vectors (similarity.intra_list_diversity): deterministic
    ranked lists, rank-ordered pair-distance fold — oracle-replayable."""
    from z_rad_spark.operators.similarity import intra_list_diversity

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = intra_list_diversity(emb, queries, k=5)
    return _r6(out.select(F.col("query_id").cast("long"), "n_pairs", "ild"), ["ild"])


def q_heaps(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over doc_id order
    (text.heaps_law, <=64 curve checkpoints): exact cumulative longs,
    rank-ordered OLS folds — oracle-replayable."""
    from z_rad_spark.operators.text import heaps_law

    out = heaps_law(_docs(spark, sf_dir))
    return _r6(out, ["beta", "k"])


def q_benford(spark, sf_dir):
    """Benford first-digit screen over documents.n_chars
    (drift.benford_test): exact digit counts, literal Benford
    probabilities, digit-ordered chi2/MAD folds — oracle-replayable."""
    from z_rad_spark.operators.drift import benford_test

    out = benford_test(_docs(spark, sf_dir))
    return _r6(out, ["chi2", "mad"])


def q_acf_profile(spark, sf_dir):
    """Pooled within-conversation ACF at lags 1-3 (drift.acf_profile):
    exact per-lag pair moments, fixed Pearson chains —
    oracle-replayable."""
    from z_rad_spark.operators.drift import acf_profile

    out = acf_profile(_t(spark, sf_dir))
    return _r6(out, ["r"])


def q_lin_ccc(spark, sf_dir):
    """Lin's concordance of consecutive turn signals (drift.lin_ccc):
    exact pair moments, fixed population-moment chains —
    oracle-replayable."""
    from z_rad_spark.operators.drift import lin_ccc

    out = lin_ccc(_t(spark, sf_dir))
    return _r6(out, ["mean_x", "mean_y", "r", "ccc"])


def q_page_trend(spark, sf_dir):
    """Page's L over first-3-turn panels (drift.page_trend): exact
    doubled-rank L2, no-tie z gate — oracle-replayable."""
    from z_rad_spark.operators.drift import page_trend

    out = page_trend(_t(spark, sf_dir))
    return _r6(out, ["l_stat", "e_l", "z"])


def q_bland_altman(spark, sf_dir):
    """Bland-Altman limits of agreement, user turn vs next assistant
    turn (drift.bland_altman): exact diff moments, 1.96 shared literal
    — oracle-replayable."""
    from z_rad_spark.operators.drift import bland_altman

    out = bland_altman(_t(spark, sf_dir))
    return _r6(out, ["mean_diff", "sd_diff", "loa_low", "loa_high"])


def _clf_scored(spark, sf_dir):
    """Shared scored frame: hashed quality classifier vs lang=='en'."""
    from z_rad_spark.operators.curation import quality_classifier

    scored = quality_classifier(_docs(spark, sf_dir), dims=64, seed=41)
    labels = _docs(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "en").alias("label_true")
    )
    return scored.join(labels, "doc_id")


def q_confusion(spark, sf_dir):
    """Thresholded confusion scorecard for the hashed quality
    classifier vs lang=='en' (encoding.confusion_stats): exact cells,
    fixed double chains incl. MCC — oracle-replayable."""
    from z_rad_spark.operators.encoding import confusion_stats

    out = confusion_stats(_clf_scored(spark, sf_dir))
    return _r6(out, ["precision", "recall", "f1", "accuracy", "mcc"])


def q_score_ks(spark, sf_dir):
    """KS separation of classifier scores, positives vs negatives
    (encoding.score_ks): integer-key argmax over the compacted p6
    histogram — oracle-replayable."""
    from z_rad_spark.operators.encoding import score_ks

    out = score_ks(_clf_scored(spark, sf_dir))
    return _r6(out, ["ks", "at_score"])


def q_source_jaccard(spark, sf_dir):
    """Pairwise source vocabulary Jaccard (curation.source_jaccard):
    exact set algebra on the deduped inverted index —
    oracle-replayable."""
    from z_rad_spark.operators.curation import source_jaccard

    out = source_jaccard(_docs(spark, sf_dir))
    return _r6(out, ["jaccard"])


def q_source_kl(spark, sf_dir):
    """Per-source KL from the corpus token mix over the top-256
    vocabulary + OTHER bucket (curation.source_kl): exact counts,
    bucket-ordered folds — oracle-replayable."""
    from z_rad_spark.operators.curation import source_kl

    out = source_kl(_docs(spark, sf_dir))
    return _r6(out, ["kl"])


def q_rand_ari(spark, sf_dir):
    """Pair-counting agreement (Rand / adjusted Rand / Fowlkes-Mallows)
    between the lang and source partitions of documents
    (encoding.adjusted_rand): exact DECIMAL pair sums, fixed double
    chains — oracle-replayable."""
    from z_rad_spark.operators.encoding import adjusted_rand

    out = adjusted_rand(_docs(spark, sf_dir))
    return _r6(out, ["rand", "ari", "fm"])


def q_vmeasure(spark, sf_dir):
    """Entropy agreement (homogeneity / completeness / V / NMI) between
    the lang and source partitions of documents (encoding.vmeasure):
    exact contingency counts, label-ordered entropy folds —
    oracle-replayable."""
    from z_rad_spark.operators.encoding import vmeasure

    out = vmeasure(_docs(spark, sf_dir))
    return _r6(
        out,
        ["h_a", "h_b", "h_ab", "mi", "homogeneity", "completeness", "v", "nmi"],
    )


def q_purity(spark, sf_dir):
    """Cluster purity / inverse purity / purity-F of the source
    partition against lang labels (encoding.label_purity): exact-long
    majority argmaxes with (count desc, label asc) tie-break —
    oracle-replayable."""
    from z_rad_spark.operators.encoding import label_purity

    out = label_purity(_docs(spark, sf_dir))
    return _r6(out, ["purity", "inv_purity", "f_purity"])


def q_kuiper(spark, sf_dir):
    """Two-sample Kuiper V per role between pre/post cutoff windows
    (drift.kuiper_drift): exact integer ECDFs on the compacted value
    axis, order-free sups in each direction — oracle-replayable."""
    from z_rad_spark.operators.drift import kuiper_drift

    out = kuiper_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["d_plus", "d_minus", "v"])


def q_cvm(spark, sf_dir):
    """Two-sample Cramér-von Mises T per role between pre/post cutoff
    windows, Anderson tie-friendly form (drift.cvm_drift): exact
    counts, value-ordered squared-gap fold — oracle-replayable."""
    from z_rad_spark.operators.drift import cvm_drift

    out = cvm_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["t"])


def q_hist_dist(spark, sf_dir):
    """Per-role TVD / Bhattacharyya / Hellinger from the pooled signal
    histogram (drift.hist_distance): exact counts, value-ordered folds,
    missing-support mass reconstructed arithmetically —
    oracle-replayable."""
    from z_rad_spark.operators.drift import hist_distance

    out = hist_distance(_t(spark, sf_dir))
    return _r6(out, ["tvd", "bc", "hellinger"])


def q_spectral(spark, sf_dir):
    """Periodogram of the hourly turn-count series at harmonics 1..8
    plus spectral entropy (sessionize.spectral_profile): exact bucket
    counts, t-ordered trig folds, k-ordered entropy fold —
    oracle-replayable."""
    from z_rad_spark.operators.sessionize import spectral_profile

    out = spectral_profile(_t(spark, sf_dir))
    return _r6(out, ["power", "norm_power", "spec_entropy"])


def q_pacf(spark, sf_dir):
    """Durbin-Levinson PACF at lags 1..3 of the hourly turn-count
    series (sessionize.pacf_profile): exact integer series moments,
    fixed double chains — oracle-replayable."""
    from z_rad_spark.operators.sessionize import pacf_profile

    out = pacf_profile(_t(spark, sf_dir))
    return _r6(out, ["r", "pacf"])


def q_holt(spark, sf_dir):
    """Holt double-exponential smoothing of the daily turn-count series
    (sessionize.holt_smooth): the inherently-ordered recursion as one
    t-sorted F.aggregate fold, replayed by a recursive-CTE oracle."""
    from z_rad_spark.operators.sessionize import holt_smooth

    out = holt_smooth(_t(spark, sf_dir))
    return _r6(out, ["level", "trend", "forecast", "sse", "rmse"])


def q_anisotropy(spark, sf_dir):
    """Mean pairwise cosine of the normalized embedding corpus via the
    sum-vector identity (similarity.anisotropy): id-ordered per-dim
    folds, no pair table — oracle-replayable."""
    from z_rad_spark.operators.similarity import anisotropy

    out = anisotropy(_emb(spark, sf_dir, spread=False))
    return _r6(out, ["sum_norm_sq", "mean_cos"])


def q_sq8(spark, sf_dir):
    """Per-vector SQ8 reconstruction error on the corpus per-dim range
    (similarity.sq8_quantize): order-free min/max corpus pass,
    dim-ordered error folds, half-up floor(z+0.5) in both engines —
    oracle-replayable."""
    from z_rad_spark.operators.similarity import sq8_quantize

    out = sq8_quantize(_emb(spark, sf_dir))
    return _r6(out.select(F.col("vec_id").cast("long"), "mse", "max_abs_err"),
               ["mse", "max_abs_err"])


def q_label_centroids(spark, sf_dir):
    """Per-label centroid norm and cosine to the global centroid
    (similarity.label_centroids): id- and label-ordered folds, fixed
    chains — oracle-replayable."""
    from z_rad_spark.operators.similarity import label_centroids

    out = label_centroids(_emb(spark, sf_dir))
    return _r6(
        out.select(F.col("label").cast("int"), "n", "centroid_norm", "cos_global"),
        ["centroid_norm", "cos_global"],
    )


def q_ansari(spark, sf_dir):
    """Ansari-Bradley dispersion test per role, pre/post cutoff
    (drift.ansari_bradley): closed-form block score sums in
    DECIMAL(38,0), tie-corrected z from exact score moments —
    oracle-replayable."""
    from z_rad_spark.operators.drift import ansari_bradley

    out = ansari_bradley(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["ab", "z"])


def q_jonckheere(spark, sf_dir):
    """Jonckheere-Terpstra monotone-trend test across calendar weeks
    (drift.jonckheere): dense group x value grid, exact 2U decimal
    sums, [-1,1] normalization — oracle-replayable."""
    from z_rad_spark.operators.drift import jonckheere

    out = jonckheere(_t(spark, sf_dir))
    return _r6(out, ["jt", "jt_mean", "jt_norm"])


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson statistic of the hourly-count OLS residuals
    (drift.durbin_watson): exact decimal series moments, t-ordered
    quadratic-form folds — oracle-replayable."""
    from z_rad_spark.operators.drift import durbin_watson

    out = durbin_watson(_t(spark, sf_dir))
    return _r6(out, ["slope", "intercept", "dw"])


def q_cusum_sq(spark, sf_dir):
    """CUSUM-of-squares variance-stability screen on the hourly series
    (drift.cusum_squares): exact integer-key argmax in DECIMAL(38,0),
    ties to smallest t — oracle-replayable."""
    from z_rad_spark.operators.drift import cusum_squares

    out = cusum_squares(_t(spark, sf_dir))
    return _r6(out, ["stat", "at_share"])


def q_rich_club(spark, sf_dir):
    """Rich-club density profile of the LSH candidate-pair graph at
    degree thresholds 1/2/4 (graph.rich_club): exact long counts,
    one division per k — oracle-replayable."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import rich_club

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(rich_club(pairs), ["phi"])


def q_powerlaw(spark, sf_dir):
    """Clauset continuous-MLE power-law exponent of the LSH-pair-graph
    degree distribution (graph.powerlaw_alpha): distinct-degree
    histogram fold, fixed chains — oracle-replayable."""
    from z_rad_spark.operators.dedup import minhash_lsh_pairs
    from z_rad_spark.operators.graph import powerlaw_alpha

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(powerlaw_alpha(pairs), ["alpha", "mean_deg"])


def q_reciprocity(spark, sf_dir):
    """Weighted reciprocity of the corpus role-transition digraph
    (graph.role_reciprocity): exact transition counts on the stable
    turn order, min/sum algebra, one division — oracle-replayable."""
    from z_rad_spark.operators.graph import role_reciprocity

    return _r6(role_reciprocity(_t(spark, sf_dir)), ["reciprocity"])


def q_dup_weights(spark, sf_dir):
    """Soft-dedup 1/cluster-size training weights over the LSH near-dup
    clusters (curation.dup_weights): exact cluster sizes off the
    recursive-closure-replayable components, one division —
    oracle-replayable."""
    from z_rad_spark.operators.curation import dup_weights

    out = dup_weights(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(out, ["weight"])


def q_source_temperature(spark, sf_dir):
    """Temperature-0.7 source sampling mix over token mass
    (curation.source_temperature): exact token counts, source-ordered
    p^alpha normalizer fold — oracle-replayable."""
    from z_rad_spark.operators.curation import source_temperature

    out = source_temperature(_docs(spark, sf_dir))
    return _r6(out, ["p", "w", "boost"])


def q_entropy_rate(spark, sf_dir):
    """Markov entropy rate + marginal entropy + predictability gain of
    the role-transition chain (sessionize.entropy_rate): exact counts
    on the stable turn order, (u,v)-ordered entropy folds —
    oracle-replayable."""
    from z_rad_spark.operators.sessionize import entropy_rate

    return _r6(entropy_rate(_t(spark, sf_dir)), ["h_rate", "h_marg", "gain"])


def q_char_entropy(spark, sf_dir):
    """Character unigram/bigram entropies and conditional next-char
    entropy per lang (text.char_bigram_entropy): exact alphabet-bounded
    counts, key-ordered folds — oracle-replayable."""
    from z_rad_spark.operators.text import char_bigram_entropy

    out = char_bigram_entropy(_docs(spark, sf_dir))
    return _r6(out, ["h1", "h2", "h_cond", "gain"])


def q_token_audit(spark, sf_dir):
    """Anomalous-token-shape audit per source (text.token_audit):
    overlong / digit-letter / non-ASCII / hex-blob ratios from exact
    regex counts — oracle-replayable."""
    from z_rad_spark.operators.text import token_audit

    out = token_audit(_docs(spark, sf_dir))
    return _r6(
        out,
        ["overlong_ratio", "mixed_ratio", "nonascii_ratio", "hexblob_ratio"],
    )


def q_horizon_feats(spark, sf_dir):
    """Multi-horizon (1h/6h/24h) point-in-time activity features per
    (conversation, cutoff) (asof.horizon_features): broadcast cutoff
    grid, exact conditional counts, leakage-safe by construction —
    oracle-replayable."""
    from z_rad_spark.operators.asof import horizon_features

    out = horizon_features(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select(
            "conv_id",
            _us("as_of", "as_of_us"),
            "n_1h",
            "n_6h",
            "n_24h",
            "n_total",
            "mean_sig_24h",
            "velocity",
        ),
        ["mean_sig_24h", "velocity"],
    )


def q_recency(spark, sf_dir):
    """Per-role recency vector (seconds since each role last spoke) at
    each cutoff (asof.recency_features): conditional epoch-micro MAXes,
    fixed subtractions — oracle-replayable."""
    from z_rad_spark.operators.asof import recency_features

    out = recency_features(_t(spark, sf_dir), spark, CUTOFFS)
    cols = [
        "sec_since_any",
        "sec_since_user",
        "sec_since_assistant",
        "sec_since_tool",
        "sec_since_system",
    ]
    return _r6(
        out.select("conv_id", _us("as_of", "as_of_us"), *cols), cols
    )


def q_stream_kmv(spark, sf_dir):
    """Stateful streaming k-minimum-values distinct sketch
    (streaming.streaming_kmv via applyInPandasWithState): O(k) sorted
    min-hash state per event_type, arrival-order-free by construction;
    availableNow = one micro-batch, so the emitted row IS the final
    sketch and the batch SQL oracle (min-k order statistic replayed in
    SQL) hash-matches it bit-for-bit."""
    from z_rad_spark.streaming import streaming_kmv

    res = _replay_stream(spark, sf_dir, streaming_kmv, "q_stream_kmv_", _event_keys)
    return _r6(res, ["est_distinct"])


def q_coverage_curve(spark, sf_dir):
    """Top-k vocabulary token-mass coverage at k=10/100/1000
    (text.coverage_curve): exact cumulative longs on the compacted
    vocabulary, (count desc, token asc) rank — oracle-replayable."""
    from z_rad_spark.operators.text import coverage_curve

    return _r6(coverage_curve(_docs(spark, sf_dir)), ["coverage"])


def q_component_sizes(spark, sf_dir):
    """Near-dup component size histogram + giant-component share
    (dedup.component_size_stats): exact counts off the
    recursive-closure-replayable clusters — oracle-replayable."""
    from z_rad_spark.operators.dedup import component_size_stats

    out = component_size_stats(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(out, ["doc_share", "gcc_share"])


def q_mahalanobis(spark, sf_dir):
    """Diagonal-covariance Mahalanobis outlier score per embedding
    (similarity.mahalanobis_diag): id-ordered per-dim moment folds,
    dim-ordered score folds — oracle-replayable."""
    from z_rad_spark.operators.similarity import mahalanobis_diag

    out = mahalanobis_diag(_emb(spark, sf_dir, spread=False))
    return _r6(
        out.select(F.col("vec_id").cast("long"), "score", "max_dim_z"),
        ["score", "max_dim_z"],
    )


def q_trend_asof(spark, sf_dir):
    """Per-conversation OLS signal trend at each cutoff
    (asof.trend_asof): DECIMAL exact sufficient sums from one
    broadcast-grid aggregate, leakage-safe — oracle-replayable."""
    from z_rad_spark.operators.asof import trend_asof

    out = trend_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select(
            "conv_id", _us("as_of", "as_of_us"), "n", "slope", "intercept", "r2"
        ),
        ["slope", "intercept", "r2"],
    )


def q_sessions_asof(spark, sf_dir):
    """Gap-session count and seconds-in-current-session at each cutoff
    (asof.sessions_asof): one lag pass marks boundaries, conditional
    exact aggregates per cutoff — oracle-replayable."""
    from z_rad_spark.operators.asof import sessions_asof

    out = sessions_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select(
            "conv_id",
            _us("as_of", "as_of_us"),
            "n_turns",
            "n_sessions",
            "sec_in_session",
        ),
        ["sec_in_session"],
    )


def q_length_gini(spark, sf_dir):
    """Exact Gini + Lorenz deciles of per-document token mass
    (curation.length_gini): exact integer ranks, DECIMAL rank
    products, one division per point — oracle-replayable."""
    from z_rad_spark.operators.curation import length_gini

    return _r6(length_gini(_docs(spark, sf_dir)), ["mass_share", "gini"])


def q_wau_overlap(spark, sf_dir):
    """Week-over-week active-user growth accounting
    (curation.wau_overlap): exact distinct sets, retained/new/churned
    decomposition, retention + Jaccard — oracle-replayable."""
    from z_rad_spark.operators.curation import wau_overlap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = wau_overlap(ev)
    return _r6(
        out.select(
            _us("week_start", "week_us"),
            "n_prev",
            "n_curr",
            "retained",
            "new_users",
            "churned",
            "retention",
            "jaccard",
        ),
        ["retention", "jaccard"],
    )


def q_seasonality(spark, sf_dir):
    """Hour-of-day / day-of-week ANOVA variance shares of the hourly
    series (sessionize.seasonality_strength): exact DECIMAL group
    moments, group-ordered folds — oracle-replayable."""
    from z_rad_spark.operators.sessionize import seasonality_strength

    return _r6(seasonality_strength(_t(spark, sf_dir)), ["eta2_hour", "eta2_dow"])


def q_key_skew(spark, sf_dir):
    """Shuffle-key skew profile of conv_id (sessionize.key_skew_profile):
    exact rank-pick quantiles on the count histogram, top-share and
    max/p50 skew ratio — oracle-replayable."""
    from z_rad_spark.operators.sessionize import key_skew_profile

    return _r6(key_skew_profile(_t(spark, sf_dir)), ["top_share", "skew_ratio"])


def q_xcorr(spark, sf_dir):
    """User/assistant hourly-activity cross-correlation at lags -3..3
    (profile.role_xcorr): exact pair moments per lag, zero-filled
    union grid — oracle-replayable."""
    from z_rad_spark.operators.profile import role_xcorr

    return _r6(role_xcorr(_t(spark, sf_dir)), ["r"])


def q_handoff_matrix(spark, sf_dir):
    """Role-pair handoff latency matrix with exact rank-pick
    median/p90 (profile.handoff_latency_matrix): microsecond-exact
    gaps, compacted histogram order stats — oracle-replayable."""
    from z_rad_spark.operators.profile import handoff_latency_matrix

    out = handoff_latency_matrix(_t(spark, sf_dir))
    return _r6(out, ["mean_sec", "p50_sec", "p90_sec"])


def q_tool_chains(spark, sf_dir):
    """Top-k consecutive tool-call chains with support shares
    (profile.tool_chains): tool-subsequence bigrams on the stable
    turn order, exact counts, (n desc, pair asc) rank —
    oracle-replayable."""
    from z_rad_spark.operators.profile import tool_chains

    return _r6(tool_chains(_t(spark, sf_dir)), ["share"])


def q_conv_endings(spark, sf_dir):
    """Final-turn role distribution and mean closing signal
    (profile.conv_endings): exact struct-argmax last turn per
    conversation, fixed enum ordinals — oracle-replayable."""
    from z_rad_spark.operators.profile import conv_endings

    return _r6(conv_endings(_t(spark, sf_dir)), ["share", "mean_last_signal"])


def q_cold_start(spark, sf_dir):
    """Daily new-vs-returning conversation volume decomposition
    (profile.cold_start_share): exact MIN-birth per conversation,
    broadcast back, one day aggregate — oracle-replayable."""
    from z_rad_spark.operators.profile import cold_start_share

    out = cold_start_share(_t(spark, sf_dir))
    return _r6(
        out.select(
            _us("day", "day_us"), "n_turns", "n_new_turns", "n_new_convs", "new_share"
        ),
        ["new_share"],
    )


def q_dup_rate_source(spark, sf_dir):
    """Per-source near-dup membership rate (dedup.dup_rate_by_source):
    exact cluster sizes off the recursive-closure-replayable
    components, one division — oracle-replayable."""
    from z_rad_spark.operators.dedup import dup_rate_by_source

    out = dup_rate_by_source(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(out, ["dup_rate"])


def q_dup_cross_source(spark, sf_dir):
    """Within- vs cross-source split of LSH duplicate pairs
    (dedup.cross_source_dup): exact pair counts on the seeded
    candidate graph — oracle-replayable."""
    from z_rad_spark.operators.dedup import cross_source_dup

    out = cross_source_dup(
        _docs(spark, sf_dir), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(out, ["cross_share"])


def q_ht_estimate(spark, sf_dir):
    """Horvitz-Thompson token-total estimate from the ~10% md5 sample
    vs exact (curation.ht_estimate): exact inclusion compare, dyadic
    p, fixed chains — oracle-replayable."""
    from z_rad_spark.operators.curation import ht_estimate

    return _r6(ht_estimate(_docs(spark, sf_dir)), ["ht_tokens", "err_pct"])


def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR over the per-role KS drift battery
    (drift.bh_fdr): exact KS algebra, fixed p chains, integer rank
    threshold broadcast back — oracle-replayable."""
    from z_rad_spark.operators.drift import bh_fdr

    out = bh_fdr(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["ks", "p"])


def q_ab_power(spark, sf_dir):
    """Two-proportion A/B sample-size plan per event type at 10%
    relative MDE (drift.ab_power): exact shares, literal normal
    quantiles, fixed n chain — oracle-replayable."""
    from z_rad_spark.operators.drift import ab_power

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(ab_power(ev), ["p1", "p2", "n_per_arm"])


def q_state_matrix(spark, sf_dir):
    """Per-role last-signal matrix at each cutoff (asof.state_matrix):
    conditional struct-argmax cells on the stable order, fixed enum
    columns, leakage-safe — oracle-replayable."""
    from z_rad_spark.operators.asof import state_matrix

    out = state_matrix(_t(spark, sf_dir), spark, CUTOFFS)
    cols = [f"last_sig_{r}" for r in ("user", "assistant", "tool", "system")]
    return _r6(out.select("conv_id", _us("as_of", "as_of_us"), *cols), cols)


def q_distinct_asof(spark, sf_dir):
    """Exact distinct role/tool breadth at each cutoff
    (asof.distinct_asof): exact COUNT(DISTINCT) per (conversation,
    cutoff), leakage-safe — oracle-replayable."""
    from z_rad_spark.operators.asof import distinct_asof

    out = distinct_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return out.select(
        "conv_id", _us("as_of", "as_of_us"), "n_turns", "n_roles", "n_tools"
    )


def q_bytes_per_token(spark, sf_dir):
    """Per-lang tokenizer-efficiency profile (text.bytes_per_token):
    exact char/token counts, single divisions — oracle-replayable."""
    from z_rad_spark.operators.text import bytes_per_token

    out = bytes_per_token(_docs(spark, sf_dir))
    return _r6(out, ["chars_per_token", "nonws_share", "mean_token_len"])


def q_dup_threshold_sweep(spark, sf_dir):
    """Dedup-bar sensitivity: pair and touched-doc counts at Jaccard
    0.5/0.7/0.9 over the LSH candidate graph
    (dedup.dup_threshold_sweep): exact set algebra on the seeded
    candidates — oracle-replayable."""
    from z_rad_spark.operators.dedup import dup_threshold_sweep

    # spread=False: both shingle consumers repartition internally via
    # word_shingles' own guard, and the operator's total-doc count then
    # rides the raw scan instead of paying the spread's 64-way shuffle
    # of the full docs table just to count rows (the one bench query
    # still above 1.1x its r5 minimum in the r6 clean-window run).
    out = dup_threshold_sweep(
        _docs(spark, sf_dir, spread=False), n=3, n_hashes=8, band_size=4, max_bucket=64
    )
    return _r6(out, ["doc_share"])


def q_stream_ewma(spark, sf_dir):
    """Stateful streaming per-conversation EWMA level
    (streaming.streaming_ewma via applyInPandasWithState): O(1) state,
    distinct-ts tie collapse, ts-ordered fold; availableNow = one
    batch, so the emitted level hash-matches the batch ts-ordered
    list_reduce oracle bit-for-bit."""
    from z_rad_spark.streaming import streaming_ewma

    res = _replay_stream(spark, sf_dir, streaming_ewma, "q_stream_ewma_")
    return _r6(res, ["level"])


def q_approx_quantiles(spark, sf_dir):
    """Greenwald-Khanna approx_percentile accuracy audit
    (sketches.approx_quantile_check): exact rank-pick quantiles
    hashed + within-rank-error booleans as hard gates — the
    audit-the-estimator pattern."""
    from z_rad_spark.operators.sketches import approx_quantile_check

    return _r6(approx_quantile_check(_t(spark, sf_dir)), ["p50", "p90", "p99"])


def q_profile_events(spark, sf_dir):
    """Deequ-style per-column profile of the raw event log
    (profile.column_profile): exact counts/distincts, canonical
    min/max renderings — oracle-replayable."""
    from z_rad_spark.operators.profile import column_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(column_profile(ev), ["null_share"])


def q_content_manifest(spark, sf_dir):
    """Order-free per-source content digests + corpus digest
    (curation.content_manifest): commutative exact-integer md5-prefix
    sums mod 2^61-1 — oracle-replayable."""
    from z_rad_spark.operators.curation import content_manifest

    return content_manifest(_docs(spark, sf_dir))


def q_mix_entropy(spark, sf_dir):
    """Source-mix entropy and effective source count over docs and
    tokens (curation.mix_entropy): exact counts, source-ordered
    entropy folds — oracle-replayable."""
    from z_rad_spark.operators.curation import mix_entropy

    return _r6(
        mix_entropy(_docs(spark, sf_dir)),
        ["h_docs", "eff_docs", "h_tokens", "eff_tokens"],
    )


def q_wilson(spark, sf_dir):
    """Wilson + Agresti-Coull 95% intervals for each source's English
    share (drift.wilson_ci): exact counts, fixed interval chains,
    literal z — oracle-replayable."""
    from z_rad_spark.operators.drift import wilson_ci

    return _r6(
        wilson_ci(_docs(spark, sf_dir)),
        ["p", "wilson_lo", "wilson_hi", "ac_lo", "ac_hi"],
    )


def q_markov_stationary(spark, sf_dir):
    """3-iteration power-method stationary role mix vs the marginal
    (sessionize.markov_stationary): exact transition ratios,
    source-ordered folds per step, unrolled SQL oracle (the q_hits
    pattern)."""
    from z_rad_spark.operators.sessionize import markov_stationary

    return _r6(markov_stationary(_t(spark, sf_dir)), ["pi", "marginal", "gap"])


def q_answer_rate_asof(spark, sf_dir):
    """Answered-user-turn share at each cutoff, follower ts also
    cutoff-bounded (asof.answer_rate_asof): one lead pass reused by
    every cutoff, exact conditional sums — oracle-replayable."""
    from z_rad_spark.operators.asof import answer_rate_asof

    out = answer_rate_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select(
            "conv_id", _us("as_of", "as_of_us"), "n_user", "n_answered", "answer_rate"
        ),
        ["answer_rate"],
    )


def q_stream_cms(spark, sf_dir):
    """Stateful streaming Count-Min sketch over event types
    (streaming.streaming_cms via applyInPandasWithState): fixed 4x64
    counter matrix, commutative exact increments, min-over-rows
    estimate with the collision overcount surfaced; availableNow =
    one batch, so the emission hash-matches the declarative
    bucket-sum SQL oracle bit-for-bit."""
    from z_rad_spark.streaming import streaming_cms

    res = _replay_stream(spark, sf_dir, streaming_cms, "q_stream_cms_", _event_keys)
    return res


def q_quantiles_asof(spark, sf_dir):
    """Expanding exact rank-pick quartiles at each cutoff
    (asof.quantile_state_asof): compacted per-(conv, cutoff) value
    histogram, leakage-safe — oracle-replayable."""
    from z_rad_spark.operators.asof import quantile_state_asof

    out = quantile_state_asof(_t(spark, sf_dir), spark, CUTOFFS)
    return _r6(
        out.select("conv_id", _us("as_of", "as_of_us"), "n", "p25", "p50", "p75"),
        ["p25", "p50", "p75"],
    )


def q_role_mix_asof(spark, sf_dir):
    """Role-composition share vector at each cutoff
    (asof.role_mix_asof): exact conditional counts, leakage-safe —
    oracle-replayable."""
    from z_rad_spark.operators.asof import role_mix_asof

    out = role_mix_asof(_t(spark, sf_dir), spark, CUTOFFS)
    cols = [f"share_{r}" for r in ("user", "assistant", "tool", "system")]
    return _r6(out.select("conv_id", _us("as_of", "as_of_us"), "n", *cols), cols)


def q_wow_growth(spark, sf_dir):
    """Week-over-week volume growth per event type
    (profile.wow_growth): exact counts, adjacent-week lag, one
    division — oracle-replayable."""
    from z_rad_spark.operators.profile import wow_growth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = wow_growth(ev)
    return _r6(
        out.select(
            "event_type", _us("week_start", "week_us"), "n_prev", "n_curr", "pct_change"
        ),
        ["pct_change"],
    )


def q_engagement_depth(spark, sf_dir):
    """Active-days engagement histogram with at-least cumulative
    shares (profile.engagement_depth): exact distinct (user, day)
    counts — oracle-replayable."""
    from z_rad_spark.operators.profile import engagement_depth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(engagement_depth(ev), ["user_share", "cum_share_at_least"])


def q_first_response(spark, sf_dir):
    """Time-to-first-assistant-response distribution
    (profile.first_response_stats): exact conditional MINs, rank-pick
    percentiles on the compacted seconds axis — oracle-replayable."""
    from z_rad_spark.operators.profile import first_response_stats

    return _r6(
        first_response_stats(_t(spark, sf_dir)),
        ["unanswered_share", "p50_sec", "p90_sec", "p99_sec"],
    )


def q_context_overflow(spark, sf_dir):
    """Context-budget overflow shares at 512/2048/8192 tokens
    (profile.context_overflow): exact per-conversation token masses,
    conditional sums — oracle-replayable."""
    from z_rad_spark.operators.profile import context_overflow

    return _r6(context_overflow(_t(spark, sf_dir)), ["conv_share", "token_share"])


def q_position_profile(spark, sf_dir):
    """Mean signal by relative within-conversation position decile
    (profile.position_profile): exact integer position bins on the
    stable order — oracle-replayable."""
    from z_rad_spark.operators.profile import position_profile

    return _r6(position_profile(_t(spark, sf_dir)), ["mean_signal"])


def q_user_gini(spark, sf_dir):
    """User-activity concentration: exact Gini + top-1%/top-10%
    shares (profile.user_gini): DECIMAL rank products, integer
    top-k cuts — oracle-replayable."""
    from z_rad_spark.operators.profile import user_gini

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(user_gini(ev), ["gini", "top1_share", "top10_share"])


def q_rolling_skew(spark, sf_dir):
    """Trailing-24h rolling skewness of the hourly series
    (profile.rolling_skewness): exact windowed DECIMAL power sums,
    fixed moment chain — oracle-replayable."""
    from z_rad_spark.operators.profile import rolling_skewness

    out = rolling_skewness(_t(spark, sf_dir))
    return _r6(
        out.select(_us("hour", "hour_us"), "n", "mean", "skew"), ["mean", "skew"]
    )


def q_view_to_purchase(spark, sf_dir):
    """View->purchase conversion within 1h per user
    (profile.view_to_purchase): exact interval join keyed by user,
    rank-pick delay percentiles — oracle-replayable."""
    from z_rad_spark.operators.profile import view_to_purchase

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _r6(view_to_purchase(ev), ["conv_rate", "p50_sec", "p90_sec"])


def q_activity_heatmap(spark, sf_dir):
    """7x24 day-of-week x hour activity heatmap
    (profile.activity_heatmap): exact counts and shares —
    oracle-replayable."""
    from z_rad_spark.operators.profile import activity_heatmap

    return _r6(activity_heatmap(_t(spark, sf_dir)), ["share"])


def q_shingle_profile(spark, sf_dir):
    """Shingle document-frequency band profile
    (dedup.shingle_profile): exact distinct shingle sets, integer
    band cuts — oracle-replayable."""
    from z_rad_spark.operators.dedup import shingle_profile

    return _r6(
        shingle_profile(_docs(spark, sf_dir)),
        ["shingle_share", "occurrence_share"],
    )


def q_token_js_drift(spark, sf_dir):
    """Token-distribution Jensen-Shannon drift across the cutoff over
    the top-256 vocabulary + OTHER (drift.token_js_drift): exact
    window counts, bucket-ordered KL folds — oracle-replayable."""
    from z_rad_spark.operators.drift import token_js_drift

    out = token_js_drift(_t(spark, sf_dir), split_ts="2024-01-15 00:00:00")
    return _r6(out, ["js", "js_norm"])


def q_stutter(spark, sf_dir):
    """Consecutive duplicate-turn stutter rate per role
    (profile.stutter_rate): exact adjacency on the stable order —
    oracle-replayable."""
    from z_rad_spark.operators.profile import stutter_rate

    return _r6(stutter_rate(_t(spark, sf_dir)), ["stutter_rate", "share_of_stutters"])


def q_tool_error_rate(spark, sf_dir):
    """Tool-then-system (error) adjacency per tool
    (profile.tool_error_rate): exact lead compare on the stable
    order — oracle-replayable."""
    from z_rad_spark.operators.profile import tool_error_rate

    return _r6(tool_error_rate(_t(spark, sf_dir)), ["error_rate"])


def q_ngram_orders(spark, sf_dir):
    """Vocabulary profile by n-gram order 1/2/3
    (text.ngram_orders): exact type/token counts per order —
    oracle-replayable."""
    from z_rad_spark.operators.text import ngram_orders

    return _r6(ngram_orders(_docs(spark, sf_dir)), ["type_token_ratio"])


def q_weekend_effect(spark, sf_dir):
    """Weekend-vs-weekday Welch t per role (drift.weekend_effect):
    conditional exact sums from one aggregate, fixed chains —
    oracle-replayable."""
    from z_rad_spark.operators.drift import weekend_effect

    return _r6(weekend_effect(_t(spark, sf_dir)), ["mean_wd", "mean_we", "t"])


def q_role_trigrams(spark, sf_dir):
    """Top-10 three-turn role patterns with shares
    (profile.role_trigrams): stable-order trigrams, exact counts —
    oracle-replayable."""
    from z_rad_spark.operators.profile import role_trigrams

    return _r6(role_trigrams(_t(spark, sf_dir)), ["share"])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is the driver-gate window: the FIRST 50 entries
    are value-gated each round. Since r5 the window is selected
    MECHANICALLY by tools/gate_ledger.py (see COVERAGE.md): entries whose
    engine/oracle code changed since their last gated round come first,
    then explicit pins, then everything else ascending by
    last_gated_round (never-gated before stale), tie-broken by registry
    position — so the order below doubles as the rotation queue for
    future rounds. Regenerate with tools/rotate_window.py.

    Current window: 50 changed-since-last-gate entries, 0 pinned,
    and 0 ledger-ordered backlog entries; 2 of 50 slots were
    not in the previous round's window. Entries past the marker keep
    their newest green driver rows; every registry entry is additionally
    strict-mirrored (tools/check_queries.py, STRICT hash mode, sf0.01)
    before each handoff — see COVERAGE.md."""
    return {
        # --- engine/oracle code changed this round ---
        "q_weekend_effect": q_weekend_effect,
        "q_role_trigrams": q_role_trigrams,
        "q_view_to_purchase": q_view_to_purchase,
        "q_activity_heatmap": q_activity_heatmap,
        "q_shingle_profile": q_shingle_profile,
        "q_token_js_drift": q_token_js_drift,
        "q_stutter": q_stutter,
        "q_tool_error_rate": q_tool_error_rate,
        "q_ngram_orders": q_ngram_orders,
        "q_quantiles_asof": q_quantiles_asof,
        "q_role_mix_asof": q_role_mix_asof,
        "q_wow_growth": q_wow_growth,
        "q_engagement_depth": q_engagement_depth,
        "q_first_response": q_first_response,
        "q_context_overflow": q_context_overflow,
        "q_position_profile": q_position_profile,
        "q_user_gini": q_user_gini,
        "q_rolling_skew": q_rolling_skew,
        "q_stream_ewma": q_stream_ewma,
        "q_approx_quantiles": q_approx_quantiles,
        "q_profile_events": q_profile_events,
        "q_content_manifest": q_content_manifest,
        "q_mix_entropy": q_mix_entropy,
        "q_wilson": q_wilson,
        "q_markov_stationary": q_markov_stationary,
        "q_answer_rate_asof": q_answer_rate_asof,
        "q_stream_cms": q_stream_cms,
        "q_rand_ari": q_rand_ari,
        "q_vmeasure": q_vmeasure,
        "q_purity": q_purity,
        "q_kuiper": q_kuiper,
        "q_cvm": q_cvm,
        "q_hist_dist": q_hist_dist,
        "q_spectral": q_spectral,
        "q_pacf": q_pacf,
        "q_holt": q_holt,
        "q_anisotropy": q_anisotropy,
        "q_sq8": q_sq8,
        "q_label_centroids": q_label_centroids,
        "q_ansari": q_ansari,
        "q_jonckheere": q_jonckheere,
        "q_durbin_watson": q_durbin_watson,
        "q_cusum_sq": q_cusum_sq,
        "q_rich_club": q_rich_club,
        "q_powerlaw": q_powerlaw,
        "q_reciprocity": q_reciprocity,
        "q_dup_weights": q_dup_weights,
        "q_source_temperature": q_source_temperature,
        "q_entropy_rate": q_entropy_rate,
        "q_char_entropy": q_char_entropy,
        # ===== gate window ends here (first 50 entries) ================
        # Everything below keeps its newest green driver row (see
        # tools/gate_ledger.py for the live last_gated_round table)
        # and queues for future rotations in this order.
        "q_token_audit": q_token_audit,
        "q_horizon_feats": q_horizon_feats,
        "q_recency": q_recency,
        "q_stream_kmv": q_stream_kmv,
        "q_coverage_curve": q_coverage_curve,
        "q_component_sizes": q_component_sizes,
        "q_mahalanobis": q_mahalanobis,
        "q_trend_asof": q_trend_asof,
        "q_sessions_asof": q_sessions_asof,
        "q_length_gini": q_length_gini,
        "q_wau_overlap": q_wau_overlap,
        "q_seasonality": q_seasonality,
        "q_key_skew": q_key_skew,
        "q_xcorr": q_xcorr,
        "q_handoff_matrix": q_handoff_matrix,
        "q_tool_chains": q_tool_chains,
        "q_conv_endings": q_conv_endings,
        "q_cold_start": q_cold_start,
        "q_dup_rate_source": q_dup_rate_source,
        "q_dup_cross_source": q_dup_cross_source,
        "q_ht_estimate": q_ht_estimate,
        "q_bh_fdr": q_bh_fdr,
        "q_ab_power": q_ab_power,
        "q_state_matrix": q_state_matrix,
        "q_distinct_asof": q_distinct_asof,
        "q_bytes_per_token": q_bytes_per_token,
        "q_dup_threshold_sweep": q_dup_threshold_sweep,
        "q_kcore": q_kcore,
        "q_assortativity": q_assortativity,
        "q_kn_ppl": q_kn_ppl,
        "q_isotonic": q_isotonic,
        "q_k_anon": q_k_anon,
        "q_bpe_step": q_bpe_step,
        "q_dbscan": q_dbscan,
        "q_wl_templates": q_wl_templates,
        "q_assoc_rules": q_assoc_rules,
        "q_conformal": q_conformal,
        "q_label_noise": q_label_noise,
        "q_adamic_adar": q_adamic_adar,
        "q_kmv": q_kmv,
        "q_ar2": q_ar2,
        "q_l_diversity": q_l_diversity,
        "q_stump": q_stump,
        "q_err": q_err,
        "q_cliffs_delta": q_cliffs_delta,
        "q_ordinal_assoc": q_ordinal_assoc,
        "q_friedman": q_friedman,
        "q_corr_drift": q_corr_drift,
        "q_energy_drift": q_energy_drift,
        "q_stream_hll": q_stream_hll,
        "q_label_prop": q_label_prop,
        "q_tfidf": q_tfidf,
        "q_top_tokens": q_top_tokens,
        "q_stratified_sample": q_stratified_sample,
        "q_stream_window_stats": q_stream_window_stats,
        "q_hits": q_hits,
        "q_nelson_aalen": q_nelson_aalen,
        "q_yule_k": q_yule_k,
        "q_triangles": q_triangles,
        "q_jarque_bera": q_jarque_bera,
        "q_srm": q_srm,
        "q_bootstrap_ci": q_bootstrap_ci,
        "q_kruskal": q_kruskal,
        "q_brown_forsythe": q_brown_forsythe,
        "q_runs_test": q_runs_test,
        "q_avg_precision": q_avg_precision,
        "q_cramers_v": q_cramers_v,
        "q_burstiness": q_burstiness,
        "q_hll": q_hll,
        "q_chao1": q_chao1,
        "q_pagerank": q_pagerank,
        "q_ad_drift": q_ad_drift,
        "q_f_oneway": q_f_oneway,
        "q_mcnemar": q_mcnemar,
        "q_heavy_hitters": q_heavy_hitters,
        "q_linear_count": q_linear_count,
        "q_split_contamination": q_split_contamination,
        "q_auc": q_auc,
        "q_lsh_recall": q_lsh_recall,
        "q_jackknife": q_jackknife,
        "q_perm_test": q_perm_test,
        "q_media_decode": q_media_decode,
        "q_cohort_retention": q_cohort_retention,
        "q_kaplan_meier": q_kaplan_meier,
        "q_log_rank": q_log_rank,
        "q_rfm": q_rfm,
        "q_ivfpq_topk": q_ivfpq_topk,
        "q_pq_codes": q_pq_codes,
        "q_bigram_lm": q_bigram_lm,
        "q_temporal_profile": q_temporal_profile,
        "q_signal_trend": q_signal_trend,
        "q_loo_encode": q_loo_encode,
        "q_woe_iv": q_woe_iv,
        "q_stream_cusum": q_stream_cusum,
        "q_hard_negatives": q_hard_negatives,
        "q_stream_psi": q_stream_psi,
        "q_rand_project": q_rand_project,
        "q_echo_score": q_echo_score,
        "q_role_runs": q_role_runs,
        "q_rank_norm": q_rank_norm,
        "q_spearman_trend": q_spearman_trend,
        "q_vocab_growth": q_vocab_growth,
        "q_conv_features": q_conv_features,
        "q_embed_stats": q_embed_stats,
        "q_trending_tokens": q_trending_tokens,
        "q_daily_activity": q_daily_activity,
        "q_media_features": q_media_features,
        "q_hurst_rs": q_hurst_rs,
        "q_sax_word": q_sax_word,
        "q_cuped": q_cuped,
        "q_rbo": q_rbo,
        "q_source_concentration": q_source_concentration,
        "q_robust_scale": q_robust_scale,
        "q_ewm_smooth": q_ewm_smooth,
        "q_pmi": q_pmi,
        "q_ngram_novelty": q_ngram_novelty,
        "q_asof_forward": q_asof_forward,
        "q_asof_nearest": q_asof_nearest,
        "q_js_drift": q_js_drift,
        "q_w1_drift": q_w1_drift,
        "q_page_hinkley": q_page_hinkley,
        "q_arrival_stats": q_arrival_stats,
        "q_count_encode": q_count_encode,
        "q_containment": q_containment,
        "q_dup_survivors": q_dup_survivors,
        "q_mmr": q_mmr,
        "q_lexical_diversity": q_lexical_diversity,
        "q_sketch_stats": q_sketch_stats,
        "q_lsh_topk": q_lsh_topk,
        "q_backfill_cubic": q_backfill_cubic,
        "q_backfill_gauss": q_backfill_gauss,
        "q_suv_norm": q_suv_norm,
        "q_extract_full": q_extract_full,
        "q_hash_split": q_hash_split,
        "q_winnow": q_winnow,
        "q_semdedup": q_semdedup,
        "q_unigram_lm": q_unigram_lm,
        "q_line_dedup": q_line_dedup,
        "q_dsir": q_dsir,
        "q_domain_mix": q_domain_mix,
        "q_dup_spans": q_dup_spans,
        "q_pq_topk": q_pq_topk,
        "q_quality_classifier": q_quality_classifier,
        "q_ppl_buckets": q_ppl_buckets,
        "q_bm25": q_bm25,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_chat_template": q_chat_template,
        "q_cdc_chunk": q_cdc_chunk,
        "q_ann_recall": q_ann_recall,
        "q_pack_sequences": q_pack_sequences,
        "q_freq_bins": q_freq_bins,
        "q_glcm_salted": q_glcm_salted,
        "q_gldzm_salted": q_gldzm_salted,
        "q_welch_drift": q_welch_drift,
        "q_expanding_zscore": q_expanding_zscore,
        "q_cusum": q_cusum,
        "q_hamming_topk": q_hamming_topk,
        "q_pca_cov": q_pca_cov,
        "q_stream_running_stats": q_stream_running_stats,
        "q_psi_drift": q_psi_drift,
        "q_temporal_split": q_temporal_split,
        "q_ks_drift": q_ks_drift,
        "q_mi_assoc": q_mi_assoc,
        "q_role_transitions": q_role_transitions,
        "q_target_encode": q_target_encode,
        "q_mw_drift": q_mw_drift,
        "q_autocorr": q_autocorr,
        "q_latency": q_latency,
        "q_edit_sim": q_edit_sim,
        "q_benford": q_benford,
        "q_gini": q_gini,
        "q_mann_kendall": q_mann_kendall,
        "q_funnel": q_funnel,
        "q_glcm": q_glcm,
        "q_gldzm_dist": q_gldzm_dist,
        "q_glrlm_salted": q_glrlm_salted,
        "q_ndcg": q_ndcg,
        "q_quantiles": q_quantiles,
        "q_winsorize": q_winsorize,
        "q_stream_page_hinkley": q_stream_page_hinkley,
        "q_feature_cross": q_feature_cross,
        "q_calibration": q_calibration,
        "q_pair_corr": q_pair_corr,
        "q_theil_sen": q_theil_sen,
        "q_flag_retries": q_flag_retries,
        "q_topic_boundaries": q_topic_boundaries,
        "q_changepoint": q_changepoint,
        "q_rolling_median": q_rolling_median,
        "q_bucketed_join": q_bucketed_join,
        "q_zipf": q_zipf,
        "q_markup_density": q_markup_density,
        "q_loss_spans": q_loss_spans,
        "q_snapshot_diff": q_snapshot_diff,
        "q_incremental_dedup": q_incremental_dedup,
        "q_langid_eval": q_langid_eval,
        "q_stream_range_join": q_stream_range_join,
        "q_loop_detection": q_loop_detection,
        "q_volume_anomaly": q_volume_anomaly,
        "q_tfidf_embed": q_tfidf_embed,
        "q_kfold_encode": q_kfold_encode,
        "q_quantile_transform": q_quantile_transform,
        "q_vocab_turnover": q_vocab_turnover,
        "q_dialog_acts": q_dialog_acts,
        "q_length_buckets": q_length_buckets,
        "q_corpus_report": q_corpus_report,
        "q_readability": q_readability,
        "q_event_uplift": q_event_uplift,
        "q_role_style": q_role_style,
        "q_weighted_sample": q_weighted_sample,
        "q_time_weighted_mean": q_time_weighted_mean,
        "q_oscillation": q_oscillation,
        "q_code_switching": q_code_switching,
        "q_signal_transitions": q_signal_transitions,
        "q_truncate_middle": q_truncate_middle,
        "q_role_token_ratios": q_role_token_ratios,
        "q_template_groups": q_template_groups,
        "q_max_drawdown": q_max_drawdown,
        "q_oov_rate": q_oov_rate,
        "q_von_neumann": q_von_neumann,
        "q_langid_kappa": q_langid_kappa,
        "q_asof_tolerance": q_asof_tolerance,
        "q_ngtdm_salted": q_ngtdm_salted,
        "q_backfill_nn": q_backfill_nn,
        "q_backfill_linear": q_backfill_linear,
        "q_decay_norm": q_decay_norm,
        "q_glrlm_25d": q_glrlm_25d,
        "q_glszm": q_glszm,
        "q_ivh_fbs": q_ivh_fbs,
        "q_mask_union": q_mask_union,
        "q_moran": q_moran,
        "q_ngldm": q_ngldm,
        "q_ngtdm": q_ngtdm,
        "q_tool_names": q_tool_names,
        "q_glcm_dist": q_glcm_dist,
        "q_gldzm": q_gldzm,
        "q_glcm_2d_avg": q_glcm_2d_avg,
        "q_glcm_2d_wavg": q_glcm_2d_wavg,
        "q_glcm_25d_merg": q_glcm_25d_merg,
        "q_glcm_3d_aver": q_glcm_3d_aver,
        "q_glcm_25d_dirmerg": q_glcm_25d_dirmerg,
        "q_lag_lead": q_lag_lead,
        "q_rollup": q_rollup,
        "q_vocab": q_vocab,
        "q_json_props": q_json_props,
        "q_decay_sum": q_decay_sum,
        "q_rolling_1h": q_rolling_1h,
        "q_gldzm_25d": q_gldzm_25d,
        "q_ngldm_salted": q_ngldm_salted,
        "q_backfill_mask": q_backfill_mask,
        "q_glrlm_2d_avg": q_glrlm_2d_avg,
        "q_ngldm_dist": q_ngldm_dist,
        "q_glcm_2d_slice_merg": q_glcm_2d_slice_merg,
        "q_filter_mean": q_filter_mean,
        "q_filter_log": q_filter_log,
        "q_filter_laws": q_filter_laws,
        "q_filter_gabor": q_filter_gabor,
        "q_filter_wavelet": q_filter_wavelet,
        "q_interval_join": q_interval_join,
        "q_shard_pack": q_shard_pack,
        "q_source_cap": q_source_cap,
        "q_hashed_embed": q_hashed_embed,
        "q_stream_sessionize": q_stream_sessionize,
        "q_chunk_docs": q_chunk_docs,
        "q_turn_pairs": q_turn_pairs,
        "q_conv_dedup": q_conv_dedup,
        "q_conv_quality": q_conv_quality,
        "q_session_window": q_session_window,
        "q_stream_dedup": q_stream_dedup,
        "q_stats_asof": q_stats_asof,
        "q_hist_asof": q_hist_asof,
        "q_reseg_stats": q_reseg_stats,
        "q_glrlm_dist": q_glrlm_dist,
        "q_flagship_slice": q_flagship_slice,
        "q_hist_daily": q_hist_daily,
        "q_kmeans_assign": q_kmeans_assign,
        "q_ivf_topk": q_ivf_topk,
        "q_minhash_pairs": q_minhash_pairs,
        "q_dup_clusters": q_dup_clusters,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_asof_state": q_asof_state,
        "q_asof_enrich": q_asof_enrich,
        "q_sessionize": q_sessionize,
        "q_transcripts": q_transcripts,
        "q_dedup_turns": q_dedup_turns,
        "q_shape": q_shape,
        "q_shape_full": q_shape_full,
        "q_glrlm": q_glrlm,
        "q_ivh": q_ivh,
        "q_extract_filtered": q_extract_filtered,
        "q_local_peaks": q_local_peaks,
        "q_ngldm_25d": q_ngldm_25d,
        "q_ngtdm_25d": q_ngtdm_25d,
        "q_dedup_exact": q_dedup_exact,
        "q_simhash": q_simhash,
        "q_text_quality": q_text_quality,
        "q_hash_sample": q_hash_sample,
        "q_corpus_clean": q_corpus_clean,
        "q_lang_id": q_lang_id,
        "q_token_stats": q_token_stats,
        "q_fingerprint": q_fingerprint,
        "q_cosine_topk": q_cosine_topk,
        "q_stats_daily": q_stats_daily,
        "q_fbs_hist": q_fbs_hist,
        "q_semi_eligible": q_semi_eligible,
        "q_anti_eligible": q_anti_eligible,
        "q_ivh_fbn": q_ivh_fbn,
        "q_filter_wavelet_db4": q_filter_wavelet_db4,
        "q_embed_dups": q_embed_dups,
        "q_glszm_25d": q_glszm_25d,
        "q_ngldm_2d_avg": q_ngldm_2d_avg,
        "q_ngtdm_2d_avg": q_ngtdm_2d_avg,
        "q_pii_redact": q_pii_redact,
        "q_ngtdm_dist": q_ngtdm_dist,
        "q_quality_rules": q_quality_rules,
        "q_decontaminate": q_decontaminate,
        "q_repetition": q_repetition,
        "q_rare_tokens": q_rare_tokens,
        "q_source_reputation": q_source_reputation,
        "q_bartlett": q_bartlett,
        "q_wilcoxon": q_wilcoxon,
        "q_cochran_q": q_cochran_q,
        "q_icc": q_icc,
        "q_perm_entropy": q_perm_entropy,
        "q_turning_points": q_turning_points,
        "q_ljung_box": q_ljung_box,
        "q_mase": q_mase,
        "q_did": q_did,
        "q_delta_ratio": q_delta_ratio,
        "q_sprt": q_sprt,
        "q_cindex": q_cindex,
        "q_good_turing": q_good_turing,
        "q_log_odds": q_log_odds,
        "q_chi2_tokens": q_chi2_tokens,
        "q_local_clustering": q_local_clustering,
        "q_brier": q_brier,
        "q_fleiss_kappa": q_fleiss_kappa,
        "q_sample_entropy": q_sample_entropy,
        "q_naive_bayes": q_naive_bayes,
        "q_kripp_alpha": q_kripp_alpha,
        "q_hedges_g": q_hedges_g,
        "q_grubbs": q_grubbs,
        "q_lift_curve": q_lift_curve,
        "q_cohen_kappa": q_cohen_kappa,
        "q_theil_u": q_theil_u,
        "q_gk_lambda": q_gk_lambda,
        "q_t_closeness": q_t_closeness,
        "q_kendall_w": q_kendall_w,
        "q_cronbach": q_cronbach,
        "q_mood_median": q_mood_median,
        "q_rmst": q_rmst,
        "q_bloom_fpr": q_bloom_fpr,
        "q_ild": q_ild,
        "q_heaps": q_heaps,
        "q_acf_profile": q_acf_profile,
        "q_lin_ccc": q_lin_ccc,
        "q_page_trend": q_page_trend,
        "q_bland_altman": q_bland_altman,
        "q_confusion": q_confusion,
        "q_score_ks": q_score_ks,
        "q_source_jaccard": q_source_jaccard,
        "q_source_kl": q_source_kl,
    }


def oracle_sql() -> dict[str, str]:
    from oracle_sql_defs import ORACLES

    return dict(ORACLES)
