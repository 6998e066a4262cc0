"""Sketch-based approximate aggregates — the 100 TB substitutes for
exact operators whose state would not fit or whose shuffle would
dominate:

* approx_distinct_by — HyperLogLog++ (``approx_count_distinct``):
  constant ~KB state per group vs an exact distinct's shuffle of every
  unique value. The exact twins are ``q_vocab`` / ``rare_token_stats``'s
  DF counts; at corpus scale the sketch is the only option for
  per-source vocabulary tracking.
* approx_quantiles_by — Greenwald-Khanna (``percentile_approx``):
  mergeable bounded-error quantiles, vs the exact rank-space percentile
  the first-order stats use (exact is right per-conversation where n is
  bounded; the sketch is for corpus-level distributions).

Sketch outputs are estimates: engine-portable SQL oracles cannot
hash-match them, so the driver records rows+schema only; the accuracy
contract lives in pytest (relative error vs the exact aggregate bounded
by the configured rsd / accuracy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exprs import MIX31_A, mix31, ordered_sums, running_counts, value_at_rank


def approx_distinct_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group HLL++ distinct estimate plus exact row counts.

    One shuffle on the group key; partial sketches merge map-side, so
    the exchange carries one ~1.5/rsd^2-byte sketch per group per task
    regardless of value cardinality."""
    return df.groupBy(group_col).agg(
        F.approx_count_distinct(value_col, rsd).cast("long").alias("approx_distinct"),
        F.count("*").cast("long").alias("n_rows"),
    )


def approx_quantiles_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probabilities: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group Greenwald-Khanna quantile estimates (rank error <=
    1/accuracy). Mergeable: map-side partial sketches, one exchange on
    the group key."""
    aggs = [
        F.percentile_approx(value_col, p, accuracy).alias(
            # stable names: 0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9
            "p" + f"{p * 100:g}".replace(".", "_")
        )
        for p in probabilities
    ]
    return df.groupBy(group_col).agg(*aggs)


# Fixed (a, b) pairs for the explicit universal-hash family
# h_i(k) = ((a_i * (|k| mod p) + b_i) mod p) mod width, p = 2^31 - 1.
# Unlike HLL++/GK above, these hashes are plain integer arithmetic, so a
# portable SQL engine can replay every bucket EXACTLY — the sketch
# estimates themselves become hash-gateable (no tolerance booleans).
# a_i * k stays below 2^57 for k < p, well inside signed-64 range in
# both Spark (long) and DuckDB (BIGINT, which errors on overflow).
_HASH_P = 2147483647
_HASH_AB = (
    (1299721, 104729),
    (15485863, 32452843),
    (49979687, 67867967),
    (86028121, 98765431),
)


def _bucket(key: F.Column, a: int, b: int, width: int) -> F.Column:
    k = F.pmod(F.abs(key.cast("long")), F.lit(_HASH_P))
    return F.pmod(F.pmod(F.lit(a) * k + F.lit(b), F.lit(_HASH_P)), F.lit(width))


def _mixed_key(key: F.Column) -> F.Column:
    """31-bit square-mod mixing hash (``exprs.mix31``) of a key, as HLL
    and KMV read it; the streaming sketches replay it with ``mix31_np``."""
    k = F.pmod(F.abs(key.cast("long")), F.lit(_HASH_P))
    return mix31(k * F.lit(MIX31_A) + F.lit(12345))


def count_min_heavy_hitters(
    df: DataFrame,
    key_col: str = "user_id",
    width: int = 512,
    depth: int = 4,
    top_k: int = 20,
) -> DataFrame:
    """Count-min-sketch heavy hitters: estimated event count per key via
    a depth x width CMS, reported against the exact count for the top-k
    keys (reference analogue: z-rad's per-image histogram summaries —
    zrad/radiomics/intensity.py builds fixed-width bin tables the same
    way; here the "bins" are universal-hash buckets over an unbounded
    key space).

    Scale: the sketch is a FIXED depth*width counter grid — each event
    row contributes +1 to `depth` buckets, counted with map-side partial
    aggregation, so the sketch exchange carries at most depth*width rows
    per task no matter how many events. The probe side (distinct keys +
    exact counts, one groupBy) joins the completed sketch via BROADCAST
    (depth*width <= a few thousand rows) — no second shuffle of the key
    space. Top-k uses orderBy().limit() = distributed TakeOrdered, never
    a single-partition window. CMS guarantee: est >= true always;
    overshoot bounded by (n_events / width) per row w.h.p., surfaced as
    the exact `overcount` column.

    Determinism: pure integer arithmetic (see _HASH_AB); ordering ties
    broken by key ascending. Output: (key, est_count, true_count,
    overcount) for the top_k keys by (est_count desc, key asc)."""
    key = F.col(key_col)
    pairs = list(_HASH_AB[:depth])
    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row_i"),
                _bucket(key, a, b, width).cast("int").alias("bucket"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    sketch = (
        df.select(F.explode(cells).alias("h"))
        .groupBy(F.col("h.row_i").alias("row_i"), F.col("h.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    truth = df.groupBy(key.cast("long").alias("key")).agg(
        F.count("*").cast("long").alias("true_count")
    )
    probe = truth.select(
        "key",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("row_i"),
                        _bucket(F.col("key"), a, b, width).cast("int").alias("bucket"),
                    )
                    for i, (a, b) in enumerate(pairs)
                ]
            )
        ).alias("h"),
    ).select("key", "true_count", F.col("h.row_i").alias("row_i"), F.col("h.bucket").alias("bucket"))
    est = (
        probe.join(F.broadcast(sketch), ["row_i", "bucket"])
        .groupBy("key", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.select(
            "key",
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), F.asc("key"))
        .limit(top_k)
    )


def linear_count_by(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    m: int = 4096,
) -> DataFrame:
    """Linear-counting distinct estimator per group: hash each key into
    an m-slot table with the explicit universal hash, count occupied
    slots z, estimate n_distinct = -m * ln((m - z) / m) (Whang et al.,
    the load-factor MLE). Reported against the exact distinct so the
    estimator's error is visible in the same row.

    Scale: ONE aggregate on the group key; both distinct counts ride
    Spark's expand-based partial distinct aggregation (map-side
    dedup within partition), and the estimator state is the bounded
    occupied-slot set (<= m) rather than the key universe. For the
    fixed-memory streaming form, keep the m-bit bitmap per group
    (bit_or of shifted bits); this exact-twin form is the verification
    harness, matching q_sketch_stats' pattern of carrying the exact
    aggregate alongside the estimate.

    Determinism: integer bucket arithmetic + one ln()/mult — the same
    libm double in both engines under the 6dp gate rounding. Output:
    (group, exact_distinct, occupied, est_distinct, err_pct)."""
    a, b = _HASH_AB[0]
    bucket = _bucket(F.col(key_col), a, b, m)
    out = df.groupBy(group_col).agg(
        F.countDistinct(F.col(key_col)).cast("long").alias("exact_distinct"),
        F.countDistinct(bucket).cast("long").alias("occupied"),
    )
    est = F.when(
        F.col("occupied") < F.lit(m),
        F.lit(-float(m))
        * F.log((F.lit(m).cast("double") - F.col("occupied").cast("double")) / F.lit(float(m))),
    ).otherwise(F.lit(float(m)) * F.log(F.lit(float(m))))
    out = out.withColumn("est_distinct", est)
    return out.withColumn(
        "err_pct",
        (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
        / F.col("exact_distinct").cast("double")
        * F.lit(100.0),
    )


def hyperloglog_by(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    p_bits: int = 8,
) -> DataFrame:
    """Explicit HyperLogLog distinct estimator per group (Flajolet,
    Fusy, Gandouet & Meunier 2007) — the REPLAYABLE twin of Spark's
    built-in HLL++ ([[approx_distinct_by]]): the same explicit
    universal hash the CMS/linear-counting sketches use, m = 2^p_bits
    registers, so a portable SQL engine reproduces every register and
    the estimate itself is value-gateable (approx_count_distinct's
    HLL++ internals are not).

        bucket = h mod m,   rest = h div m   (w = 31 - p_bits bits)
        M_j    = max rank(rest)  (leading-zero count + 1; 0 if empty)
        E_raw  = alpha_m m^2 / sum_j 2^(-M_j)
        E      = m ln(m / V)  when E_raw <= 2.5 m and V > 0  (small-range
                 linear-counting correction; V = # zero registers)

    alpha_m = 0.7213 / (1 + 1.079 / m) (the paper's m >= 128 constant).
    No large-range correction: the hash space is 31-bit and the
    estimator is paired with the exact count for calibration, not used
    near 2^31.

    Hash choice: NOT the affine CMS/linear-count hash — an affine map
    sends consecutive ids to an arithmetic progression whose HIGH bits
    are structured, and HLL ranks read exactly those bits (measured on
    the test ids: +113% error, every register saturated). The engine's
    square-mod mixing hash (the poisson_bootstrap_ci lesson: x = (k a1
    + c) mod p, y = (x^2 + x) mod p, z = y a1 mod p — all intermediates
    < 2^62, BIGINT-safe in both engines) restores the geometric rank
    distribution (measured: within the ±1.04/sqrt(m) ~ 6.5% band).

    Determinism: rank is a generated integer CASE ladder (no float
    log2 — exact at every power-of-two boundary); 2^(-M_j) terms are
    exact dyadic doubles summed by ``exprs.ordered_sums`` by bucket; the
    zero registers contribute the exact integer m - occupied. One ln()
    and a fixed division chain — same libm double in both engines
    under the 6dp gate (the linear_count_by precedent).

    Scale: register table = groupBy (group, bucket) max — bounded by
    m rows per group regardless of key cardinality, map-side combined;
    the exact distinct rides alongside for the error column (drop it
    at true corpus scale). Output: (group, exact_distinct long,
    occupied long, v_zero long, est_distinct double, err_pct double).
    """
    m = 1 << p_bits
    w = 31 - p_bits

    def bucket_of(c):
        return F.pmod(_mixed_key(F.col(c)), F.lit(m)).cast("int")

    def rank_of(c):
        rest = F.floor(_mixed_key(F.col(c)).cast("double") / F.lit(float(m))).cast("long")
        # CASE ladder: rank r <=> highest set bit of the w-bit rest is
        # at position w - r (0-based); rest == 0 -> w + 1
        rank = F.lit(w + 1)
        for r in range(w, 0, -1):
            rank = F.when(rest >= F.lit(1 << (w - r)), F.lit(r)).otherwise(rank)
        return rank
    # single pass: dedup (group, key) FIRST — the exact-distinct count
    # is then a plain count over the deduped frame (carried by a window
    # so the register aggregate and the exact count share one scan; the
    # two-branch form scanned the fact table twice)
    from pyspark.sql import Window

    dk = (
        df.select(F.col(group_col).alias("_g"), F.col(key_col).alias("_k"))
        # NULL keys out up front: the window count below would include a
        # NULL-key group, while COUNT(DISTINCT key) — the oracle and the
        # two-branch form — excludes NULLs
        .where(F.col("_k").isNotNull())
        .groupBy("_g", "_k")
        .agg(F.lit(1).alias("_one"))
        .select("_g", "_k", F.count("*").over(Window.partitionBy("_g")).alias("_nk"))
    )
    dk = dk.select("_g", "_nk", bucket_of("_k").alias("_b"), rank_of("_k").alias("_r"))
    regs = dk.groupBy("_g", "_b").agg(
        F.max("_r").cast("int").alias("_reg"),
        F.max("_nk").cast("long").alias("_nkk"),
    )
    j = regs.groupBy("_g").agg(
        F.count("*").cast("long").alias("occupied"),
        F.max("_nkk").cast("long").alias("exact_distinct"),
        *ordered_sums(["_b"], _z_occ=F.pow(F.lit(2.0), -F.col("_reg").cast("double"))),
    )
    z_occ = F.col("_z_occ")
    v = (F.lit(m) - F.col("occupied")).cast("long")
    zsum = z_occ + v.cast("double")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    e_raw = alpha * F.lit(float(m)) * F.lit(float(m)) / zsum
    est = F.when(
        (e_raw <= F.lit(2.5) * F.lit(float(m))) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    out = j.select(
        F.col("_g").alias(group_col),
        "exact_distinct",
        "occupied",
        v.alias("v_zero"),
        est.alias("est_distinct"),
    )
    return out.withColumn(
        "err_pct",
        (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
        / F.col("exact_distinct").cast("double")
        * F.lit(100.0),
    )


def kmv_distinct_by(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct estimator per group (Bar-Yossef et al.
    2002; Beyer et al. SIGMOD 2007's unbiased form) — the third member
    of the replayable cardinality battery beside [[linear_count_by]]
    (dense bitmap, small range) and [[hyperloglog_by]] (log-log
    registers): keep the k SMALLEST normalized hash values; if the
    k-th smallest is U_(k), the unbiased estimate is

        E = (k - 1) / U_(k)        (exact count when < k hashes exist)

    KMV is the sketch whose state supports set operations (union =
    merge-and-truncate, intersection via the Jaccard of the combined
    k-set), which neither LC nor HLL registers give — the reason
    theta sketches run on KMV internals.

    Hash: the same square-mod mixing hash as [[hyperloglog_by]] (the
    affine map's structured high bits are equally fatal here — order
    statistics of an arithmetic progression are NOT uniform), 31-bit
    range, normalized U = (h + 1) / P in (0, 1].

    Determinism: the k-th minimum is an exact INTEGER order statistic
    (row_number over the per-group hash sort — the distributed top-k
    path; no driver collect), the estimate is one fixed multiply-
    divide chain on exact longs, and hash collisions merge identically
    in both engines (the sketch sees distinct h, the exact count sums
    per-hash key counts). At cluster scale the window sort is the
    standard two-level top-k; the per-group state is k longs.

    Output: (group, exact_distinct long, v_hashes long, kth_hash long
    — NULL when v < k, est_distinct double, err_pct double).
    """
    from pyspark.sql import Window

    dk = df.select(F.col(group_col).alias("g"), F.col(key_col).alias("_k")).distinct()
    hs = dk.select("g", _mixed_key(F.col("_k")).alias("_h")).groupBy("g", "_h").agg(
        F.count("*").cast("long").alias("_ck")
    )
    rn = F.row_number().over(Window.partitionBy("g").orderBy("_h"))
    g = (
        hs.withColumn("_rn", rn)
        .groupBy("g")
        .agg(
            F.sum("_ck").cast("long").alias("exact_distinct"),
            F.count("*").cast("long").alias("v_hashes"),
            F.max(F.when(F.col("_rn") == k, F.col("_h"))).cast("long").alias("kth_hash"),
        )
    )
    est = F.when(
        F.col("v_hashes") < k, F.col("v_hashes").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(float(_HASH_P))
        / (F.col("kth_hash").cast("double") + F.lit(1.0))
    )
    out = g.select(
        F.col("g").alias(group_col),
        "exact_distinct",
        "v_hashes",
        "kth_hash",
        est.alias("est_distinct"),
    )
    err = (
        (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
        / F.col("exact_distinct").cast("double")
        * F.lit(100.0)
    )
    return out.withColumn("err_pct", err)


def bloom_fpr(
    members: DataFrame,
    tests: DataFrame,
    token_col: str = "token",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter false-positive audit: build the bit set from the
    DISTINCT member tokens, then measure how many NON-member probe
    tokens the filter would (wrongly) admit — the calibration report
    for sizing the dedup/decontamination prefilters ([[q_decontaminate]]
    uses exact joins; a Bloom front reduces their shuffle at corpus
    scale, and this op says what admission error that buys):

        bucket_j(t) = int(md5(t || '#' || j)[:8]) mod m,  j < k
        FP(t)       = all k buckets of t are set
        expected    = (bits_set / m)^k   (fill-ratio estimator)

    Determinism: membership and probe hits are EXACT integer
    set-algebra on md5-derived buckets (both engines implement md5 and
    the hex fold identically); fpr and the expected chain are fixed
    single-op sequences. Bit-replayable.

    Scale: the bit set is at most ``m_bits`` rows (broadcastable for
    any practical m); probes explode k-fold then semi-join the
    broadcast bits — one map-side pass over the probe side, no
    corpus shuffle. Output one row: (n_members, n_bits_set, n_test,
    n_fp longs; fpr, expected_fpr doubles — NULL when no probes).
    """
    from pyspark.sql.functions import broadcast

    mem = members.select(F.col(token_col).alias("_t")).distinct()
    js = F.sequence(F.lit(0), F.lit(int(k_hashes) - 1))

    def _bkt(tok, j):
        h = F.md5(F.concat(tok, F.lit("#"), j.cast("string")))
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(int(m_bits))
        )

    bits = (
        mem.select(F.explode(js).alias("_j"), "_t")
        .select(_bkt(F.col("_t"), F.col("_j")).alias("_b"))
        .distinct()
    )
    n_mem = mem.agg(F.count("*").cast("long").alias("n_members"))
    n_bits = bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    probe = (
        tests.select(F.col(token_col).alias("_t"))
        .distinct()
        .join(mem, "_t", "left_anti")
    )
    hits = (
        probe.select("_t", F.explode(js).alias("_j"))
        .select("_t", _bkt(F.col("_t"), F.col("_j")).alias("_b"))
        .join(broadcast(bits), "_b", "left_semi")
        .groupBy("_t")
        .agg(F.count("*").cast("long").alias("_h"))
    )
    fp = probe.join(hits, "_t", "left").agg(
        F.count("*").cast("long").alias("n_test"),
        F.coalesce(
            F.sum(
                F.when(
                    F.coalesce(F.col("_h"), F.lit(0)) == k_hashes, F.lit(1)
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_fp"),
    )
    g = n_mem.crossJoin(broadcast(n_bits)).crossJoin(broadcast(fp))
    fill = F.col("n_bits_set").cast("double") / F.lit(float(m_bits))
    expected = fill
    for _ in range(int(k_hashes) - 1):
        expected = expected * fill
    return g.select(
        "n_members",
        "n_bits_set",
        "n_test",
        "n_fp",
        F.when(
            F.col("n_test") > 0,
            F.col("n_fp").cast("double") / F.col("n_test").cast("double"),
        ).alias("fpr"),
        expected.alias("expected_fpr"),
    )


def approx_quantile_check(
    df: DataFrame,
    signal_col: str = "signal",
    accuracy: int = 1000,
) -> DataFrame:
    """Sketch-accuracy audit for Spark's approx_percentile
    (Greenwald-Khanna): the EXACT rank-pick p50/p90/p99 of the signal
    beside booleans asserting the GK estimate landed within its
    documented rank-error bound (rank error <= n / accuracy, read off
    the exact CDF on the compacted value histogram) — the same
    audit-the-estimator pattern as [[q_bloom_fpr]] / [[q_lsh_recall]]
    / [[q_hll]]: the exact values and the bound booleans are the hard
    gate; the estimate itself is reported unhashed (it is
    implementation-defined).

    Determinism: exact quantiles are integer rank picks (ceil(q n),
    value asc) on exact counts; each bound boolean checks the
    estimate's exact CDF rank against q*n +/- n/accuracy using only
    integer/fixed arithmetic. Bit-replayable (booleans + exact
    values).

    Output one row: (n long, p50, p90, p99 doubles — exact; ok_p50,
    ok_p90, ok_p99 booleans).
    """
    x = F.col(signal_col).cast("double")
    hist = df.where(x.isNotNull()).groupBy(x.alias("_v")).agg(
        F.count("*").cast("long").alias("_m")
    )
    cum = running_counts(hist, [], "_v", "_m")
    approx = df.where(x.isNotNull()).agg(
        F.percentile_approx(x, [0.5, 0.9, 0.99], int(accuracy)).alias("_ap")
    )

    def exact(q):
        return value_at_rank("_v", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    g = cum.agg(
        F.max("_n").alias("n"),
        exact(0.50).alias("_e50"),
        exact(0.90).alias("_e90"),
        exact(0.99).alias("_e99"),
    ).crossJoin(F.broadcast(approx))
    # rank of the estimate = exact CDF count at-or-below it; the GK
    # contract: |rank - q n| <= n / accuracy. The rank lookup folds
    # over the compacted histogram (broadcast back as an array).
    cells = cum.select(F.struct("_v", "_cum").alias("_e")).agg(
        F.sort_array(F.collect_list("_e")).alias("_cells")
    )
    g = g.crossJoin(F.broadcast(cells))

    def rank_at(val):
        # largest cumulative count among values <= val (0 if below all)
        return F.aggregate(
            F.col("_cells"),
            F.lit(0).cast("long"),
            lambda acc, e: F.when(e["_v"] <= val, e["_cum"]).otherwise(acc),
        )

    def ok(idx, q):
        est = F.col("_ap").getItem(idx)
        rk = rank_at(est)
        lo = F.lit(q) * F.col("n").cast("double") - F.col("n").cast(
            "double"
        ) / F.lit(float(accuracy))
        hi = F.lit(q) * F.col("n").cast("double") + F.col("n").cast(
            "double"
        ) / F.lit(float(accuracy))
        # the estimate's CDF interval [rank_below_exclusive, rank] must
        # intersect [lo, hi]; with the compacted histogram the interval
        # lower end is the previous value's cumulative count
        prev = F.aggregate(
            F.col("_cells"),
            F.lit(0).cast("long"),
            lambda acc, e: F.when(e["_v"] < est, e["_cum"]).otherwise(acc),
        )
        return (rk.cast("double") >= lo) & (prev.cast("double") <= hi)

    return g.select(
        F.col("n").cast("long").alias("n"),
        F.col("_e50").alias("p50"),
        F.col("_e90").alias("p90"),
        F.col("_e99").alias("p99"),
        ok(0, 0.50).alias("ok_p50"),
        ok(1, 0.90).alias("ok_p90"),
        ok(2, 0.99).alias("ok_p99"),
    )
