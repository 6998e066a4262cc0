"""North-rule property tests.

1. ZERO TEMPORAL LEAKAGE: perturbing every turn with ts > cutoff leaves
   the feature vectors bit-identical (SURVEY.md §4 item 4).
2. Per-turn TEXT EQUALITY under the stable (conv_id, ts, turn_idx)
   ordering (BASELINE.json per-row invariant).
3. Crop/prune invariance: pre-filtering rows to ts <= max(cutoff) (the
   RoiCropper analogue, reference tests/test_radiomics.py:192-211) does
   not change any feature value.
"""

import numpy as np
import pandas as pd
import pytest

from z_rad_spark.config import FeatureConfig
from z_rad_spark.extractor import extract_features
from z_rad_spark.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts_pdf

CUT = "2024-01-03T00:00:00"
CFG = FeatureConfig(
    families=("stats", "hist", "shape", "glcm", "glrlm", "ngtdm", "ngldm"),
    aggr_dim="2D",
    aggr_method="AVER",
    n_bins=6,
    eligible_roles=("user", "assistant", "tool"),
)


@pytest.fixture(scope="module")
def pdf():
    return synth_transcripts_pdf(n_convs=6, mean_turns=40, seed=21)


def _feats(spark, frame: pd.DataFrame, cutoffs) -> pd.DataFrame:
    df = spark.createDataFrame(frame, schema=TRANSCRIPT_SCHEMA)
    out = extract_features(df, CFG, cutoffs).toPandas()
    return out.sort_values(["conv_id", "as_of"]).reset_index(drop=True)


def test_zero_temporal_leakage(spark, pdf):
    base = _feats(spark, pdf, [CUT])

    # poison every post-cutoff turn: different text, role, tool, signal
    poisoned = pdf.copy()
    after = poisoned["ts"] > np.datetime64(CUT)
    assert after.any(), "fixture must have post-cutoff turns"
    poisoned.loc[after, "text"] = "POISON " * 50
    poisoned.loc[after, "role"] = "system"
    poisoned.loc[after, "tool"] = "poison_tool"
    got = _feats(spark, poisoned, [CUT])

    pd.testing.assert_frame_equal(base, got, check_exact=True)


def test_crop_invariance(spark, pdf):
    base = _feats(spark, pdf, [CUT])
    cropped = pdf[pdf["ts"] <= np.datetime64(CUT)].reset_index(drop=True)
    got = _feats(spark, cropped, [CUT])
    pd.testing.assert_frame_equal(base, got, check_exact=True)


def test_per_turn_text_equality_and_stable_order(spark, pdf):
    """Round-trip through the engine's canonical layout preserves every
    turn's text byte-for-byte in the stable ordering."""
    from z_rad_spark.operators.skew import repartition_range

    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    back = (
        repartition_range(df, 4)
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    want = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    assert list(back["text"]) == list(want["text"])
    assert list(back["conv_id"]) == list(want["conv_id"])
    assert list(back["turn_idx"]) == list(want["turn_idx"])


def test_duplicate_ts_tiebreak_stability(spark, pdf):
    """Shuffling input row order must not change features: the kernel's
    mergesort on (ts, turn_idx) makes duplicate-ts groups deterministic."""
    base = _feats(spark, pdf, [CUT])
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    got = _feats(spark, shuffled, [CUT])
    pd.testing.assert_frame_equal(base, got, check_exact=True)


def test_fbn_is_per_cutoff_not_global(spark):
    """FBN min/max must come from the cutoff-filtered population: a
    conversation whose post-cutoff turns raise the max must get identical
    grey levels to one truncated at the cutoff (leakage via min/max)."""
    rows = []
    base_ts = np.datetime64("2024-01-01T00:00:00", "us")
    for i in range(30):
        rows.append(("c1", i, "user", " ".join(["t"] * (2 + i % 4)), None, base_ts + np.timedelta64(i * 60, "s")))
    # post-cutoff explosion in token count
    for i in range(30, 40):
        rows.append(("c1", i, "user", " ".join(["t"] * 200), None, base_ts + np.timedelta64(i * 3600 * 24 * 30, "s")))
    pdf2 = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf2["turn_idx"] = pdf2["turn_idx"].astype("int32")

    cut = "2024-01-01T01:00:00"
    full = _feats(spark, pdf2, [cut])
    trunc = _feats(spark, pdf2.iloc[:30].reset_index(drop=True), [cut])
    pd.testing.assert_frame_equal(full, trunc, check_exact=True)


def test_declarative_paths_zero_leakage(spark, pdf):
    """The pure-JVM plans (as-of state, declarative stats/hist) must also
    never read past the cutoff: poisoning post-cutoff turns leaves their
    outputs bit-identical."""
    from z_rad_spark.operators import firstorder_sql
    from z_rad_spark.operators.asof import asof_state
    from z_rad_spark.transcripts import with_signal

    cutoffs = [CUT]

    def run_all(frame):
        df = with_signal(spark.createDataFrame(frame, schema=TRANSCRIPT_SCHEMA))
        outs = {}
        outs["asof"] = (
            asof_state(df, spark, cutoffs, ["signal", "turn_idx"])
            .toPandas().sort_values(["conv_id", "as_of"]).reset_index(drop=True)
        )
        outs["stats"] = (
            firstorder_sql.stats_asof(df, spark, cutoffs)
            .toPandas().sort_values(["conv_id", "as_of"]).reset_index(drop=True)
        )
        outs["hist"] = (
            firstorder_sql.hist_asof(df, spark, cutoffs, 6)
            .toPandas().sort_values(["conv_id", "as_of"]).reset_index(drop=True)
        )
        return outs

    base = run_all(pdf)
    poisoned = pdf.copy()
    after = poisoned["ts"] > np.datetime64(CUT)
    assert after.any()
    poisoned.loc[after, "text"] = "POISON " * 99
    poisoned.loc[after, "role"] = "system"
    got = run_all(poisoned)
    for k in base:
        pd.testing.assert_frame_equal(base[k], got[k], check_exact=True)


# The declarative as-of paths take cutoffs as strings. The grid index of a
# cutoff must follow its instant, not its text, and a repeated instant must
# count once: "2024-01-10T00:00:00" sorts after "2024-01-10 12:00:00" as
# text, and "2024-01-9" after "2024-01-10".
_SPELLINGS = [
    ["2024-01-10 12:00:00", "2024-01-10T00:00:00"],
    ["2024-01-9 00:00:00", "2024-01-10 00:00:00"],
]


@pytest.fixture(scope="module")
def synth(spark):
    from z_rad_spark.transcripts import synth_transcripts, with_signal

    return with_signal(synth_transcripts(spark)).cache()


def _asof_frame(df, sort=("conv_id", "as_of")) -> pd.DataFrame:
    return df.toPandas().sort_values(list(sort)).reset_index(drop=True)


def _declarative(name, spark, df, cutoffs):
    from z_rad_spark.operators import firstorder_sql
    from z_rad_spark.operators.asof import asof_state

    if name == "stats_asof":
        return firstorder_sql.stats_asof(df, spark, cutoffs)
    if name == "hist_asof":
        return firstorder_sql.hist_asof(df, spark, cutoffs, 6)
    return asof_state(df, spark, cutoffs, ["signal", "turn_idx"])


def test_cutoff_grid_ranks_listed_instants(spark):
    """gi = rank() - 1 over the listed instants, one row per instant."""
    from pyspark.sql import functions as F

    from z_rad_spark.operators.asof import cutoff_grid

    got = cutoff_grid(
        spark, ["2024-01-10 12:00:00", "2024-01-10T00:00:00", "2024-01-9", "2024-01-10 00:00:00"]
    ).orderBy("as_of").select("gi", F.date_format("as_of", "yyyy-MM-dd HH:mm")).collect()
    assert [tuple(r) for r in got] == [
        (0, "2024-01-09 00:00"), (1, "2024-01-10 00:00"), (3, "2024-01-10 12:00")]


@pytest.mark.parametrize("cutoffs", _SPELLINGS)
def test_stats_asof_counts_only_turns_up_to_each_cutoff(spark, synth, cutoffs):
    from pyspark.sql import functions as F

    from z_rad_spark.operators import firstorder_sql

    got = (
        firstorder_sql.stats_asof(synth, spark, cutoffs)
        .groupBy("as_of").agg(F.sum("n_turns").alias("n")).collect()
    )
    assert len(got) == len(cutoffs)
    for r in got:
        assert r.n == synth.where(F.col("ts") <= F.lit(r.as_of)).count(), r


def test_stats_asof_skips_null_signals_as_the_kernel_does(spark):
    """A NULL or NaN signal is no value: the declarative stats equal the
    kernel path's, which masks both with ``~isnan``, for a conversation
    with NULL signals, one with a NaN signal and one with neither; the
    value histogram's quantile state counts the same turns."""
    from pyspark.sql import functions as F

    from z_rad_spark.operators import firstorder_sql
    from z_rad_spark.operators.asof import quantile_state_asof
    from z_rad_spark.transcripts import with_signal

    vals = {
        "a": [3, None, 5, 8, None, 1, 4],
        "b": [2, 2, 7, 1, 9],
        "c": [3, float("nan"), 5, 8, 1, 4],
    }
    rows = [
        (c, i, "user", f"w{i}", None, f"2024-01-01 10:{i:02d}:00", None if v is None else float(v))
        for c, vs in vals.items()
        for i, v in enumerate(vs)
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string,"
        " val double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cut = ["2024-01-02 00:00:00"]
    kernel = _asof_frame(extract_features(t, FeatureConfig(signal="val", families=("stats",)), cut))
    decl = _asof_frame(firstorder_sql.stats_asof(with_signal(t, "val"), spark, cut))
    assert decl["n_turns"].tolist() == [5, 5, 5]
    cols = [c for c in decl.columns if c.startswith("stat_")]
    assert len(cols) == 18
    pd.testing.assert_frame_equal(decl[cols], kernel[cols], check_exact=True)
    assert (decl.loc[2, "stat_mean"], decl.loc[2, "stat_median"]) == (4.2, 4.0)
    q = _asof_frame(quantile_state_asof(with_signal(t, "val"), spark, cut))
    assert q["n"].tolist() == [5, 5, 5]


@pytest.mark.parametrize("name", ["stats_asof", "hist_asof"])
@pytest.mark.parametrize("cutoffs", _SPELLINGS)
def test_declarative_grid_follows_instants_not_text(spark, synth, name, cutoffs):
    """Each cutoff's rows equal a run on that cutoff alone."""
    both = _asof_frame(_declarative(name, spark, synth, cutoffs))
    for c in cutoffs:
        alone = _asof_frame(_declarative(name, spark, synth, [c]))
        part = both[both["as_of"] == alone["as_of"].iloc[0]].reset_index(drop=True)
        pd.testing.assert_frame_equal(part, alone, check_exact=True)


@pytest.mark.parametrize("name", ["stats_asof", "hist_asof", "asof_state", "extract_features"])
def test_repeated_cutoff_counts_once(spark, synth, name):
    cut = "2024-01-10T00:00:00"
    if name == "extract_features":
        def run(cutoffs):
            return _asof_frame(extract_features(synth, CFG, cutoffs))
    else:
        def run(cutoffs):
            return _asof_frame(_declarative(name, spark, synth, cutoffs))
    once = run([cut])
    assert len(once) > 0
    pd.testing.assert_frame_equal(run([cut, "2024-01-10 00:00:00", cut]), once, check_exact=True)
