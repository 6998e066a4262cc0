"""Corpus-curation operators: Gopher quality rules, decontamination,
repetition, corpus token stats, source reputation, k-means.

Hand-computable micro-fixtures so every expected value is verifiable by
eye; the sf0.01 oracle gate covers the at-scale hash parity.
"""

import math

import pytest
from pyspark.sql import functions as F

from z_rad_spark.operators.curation import (
    decontaminate,
    gopher_quality_rules,
    rare_token_stats,
    repetition_stats,
    source_reputation,
)
from z_rad_spark.operators.similarity import kmeans_assign, kmeans_lloyd


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_gopher_quality_rules(spark):
    df = _docs(
        spark,
        [
            # 12 words, all alpha, >= 2 distinct stopwords -> pass
            (1, "the cat and the dog of the house is to be good", "s"),
            # too short
            (2, "the and of", "s"),
            # no stopwords
            (3, "alpha beta gamma delta eps zeta eta theta iota kappa lam mu", "s"),
        ],
    )
    out = {r["doc_id"]: r for r in gopher_quality_rules(df).collect()}
    assert out[1]["pass_gopher"] and out[1]["n_words"] == 12
    assert out[1]["stop_hits"] == 5  # the and of is to
    assert not out[2]["pass_gopher"]
    assert not out[3]["pass_gopher"] and out[3]["stop_hits"] == 0
    assert out[3]["alpha_frac"] == 1.0


def test_decontaminate_flags_shared_trigrams(spark):
    train = _docs(
        spark,
        [
            (1, "x y alpha beta gamma z", "s"),  # shares 'alpha beta gamma'
            (2, "p q r s t u", "s"),  # clean
            (3, "alpha beta gamma alpha beta gamma", "s"),  # shares (distinct once)
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta", "s")])
    out = {r["doc_id"]: r for r in decontaminate(train, bench, n=3).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlap_grams"] == 1
    assert not out[2]["contaminated"] and out[2]["n_overlap_grams"] == 0
    # doc 3: distinct grams {'alpha beta gamma','beta gamma alpha','gamma alpha beta'}
    # -> only the first overlaps
    assert out[3]["n_overlap_grams"] == 1


def test_repetition_stats(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a b", "s"),  # 2-grams: ab ba ab ba ab -> 5 total, 2 uniq
            (2, "a b c d", "s"),  # no repetition
            (3, "w", "s"),  # shorter than n -> 0.0
        ],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["dup_2gram_frac"] == pytest.approx(3 / 5)
    assert out[2]["dup_2gram_frac"] == 0.0 and out[2]["dup_3gram_frac"] == 0.0
    assert out[3]["dup_2gram_frac"] == 0.0


def test_rare_token_stats(spark):
    df = _docs(
        spark,
        [
            (1, "a a b", "s"),  # corpus tf: a=3, b=2 ; df: a=2, b=2
            (2, "a b zz", "s"),  # zz tf=1 (rare)
        ],
    )
    out = {r["doc_id"]: r for r in rare_token_stats(df, rare_max_count=1).collect()}
    assert out[1]["n_tokens"] == 3 and out[1]["n_distinct"] == 2
    assert out[1]["mean_tf"] == pytest.approx((3 + 3 + 2) / 3)
    assert out[1]["rare_frac"] == 0.0
    assert out[2]["rare_frac"] == pytest.approx(1 / 3)
    assert out[2]["mean_df"] == pytest.approx((2 + 2 + 1) / 3)


def test_source_reputation(spark):
    df = _docs(
        spark,
        [
            (1, "same text", "dup_farm"),
            (2, "same  text", "dup_farm"),  # whitespace-normalized duplicate
            (3, "other text", "dup_farm"),
            (4, "unique one", "clean"),
            (5, "unique two", "clean"),
        ],
    )
    out = {r["doc_id"]: r for r in source_reputation(df, max_dup_rate=0.2).collect()}
    assert out[1]["dup_rate"] == pytest.approx(1 - 2 / 3)
    assert out[1]["bad_source"] and not out[4]["bad_source"]
    assert out[4]["dup_rate"] == 0.0
    assert out[1]["n_docs"] == 3


def _vecs(spark):
    # two tight clusters on orthogonal axes + slight jitter
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i, 0.0]))
    for i in range(6, 12):
        rows.append((i, [0.0, 0.01 * (i - 6), 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_assign_deterministic_and_separates(spark):
    v = _vecs(spark)
    a1 = {r["vec_id"]: r["cluster_id"] for r in kmeans_assign(v, k=2).collect()}
    a2 = {r["vec_id"]: r["cluster_id"] for r in kmeans_assign(v, k=2).collect()}
    assert a1 == a2  # md5-seeded centroids: no run-to-run drift
    # with k=2 the two seed centroids may land in one cluster; at least
    # assignment must be constant within each tight cluster
    assert len({a1[i] for i in range(6)}) <= 2


def test_kmeans_lloyd_converges_to_true_clusters(spark):
    v = _vecs(spark)
    out = {r["vec_id"]: r["cluster_id"] for r in kmeans_lloyd(v, k=2, iters=3).collect()}
    left = {out[i] for i in range(6)}
    right = {out[i] for i in range(6, 12)}
    assert len(left) == 1 and len(right) == 1 and left != right
    # inertia proxy: every member's cosine to its centroid ~ 1
    rows = kmeans_lloyd(v, k=2, iters=3).collect()
    assert all(r["cosine"] > 0.99 for r in rows)


def test_interval_join_bucketed_equals_naive(spark):
    from z_rad_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:05:00"), ("c1", 1, "2024-01-01 01:30:00"),
         ("c1", 2, "2024-01-01 03:00:00"), ("c2", 0, "2024-01-01 00:10:00")],
        "conv_id string, turn_idx int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ivals = spark.createDataFrame(
        [("c1", "2024-01-01 00:00:00", "2024-01-01 02:00:00"),   # spans 3 buckets
         ("c1", "2024-01-01 01:00:00", "2024-01-01 01:45:00"),
         ("c2", "2024-01-01 05:00:00", "2024-01-01 06:00:00")],
        "conv_id string, start_ts string, end_ts string",
    ).withColumn("start_ts", F.to_timestamp("start_ts")).withColumn(
        "end_ts", F.to_timestamp("end_ts"))

    got = sorted(
        (r["conv_id"], r["turn_idx"], str(r["start_ts"]))
        for r in interval_join(pts, ivals, bucket_seconds=3600).collect()
    )
    naive = sorted(
        (r["conv_id"], r["turn_idx"], str(r["start_ts"]))
        for r in pts.alias("p").join(
            ivals.alias("i"),
            (F.col("p.conv_id") == F.col("i.conv_id"))
            & (F.col("p.ts") >= F.col("i.start_ts"))
            & (F.col("p.ts") <= F.col("i.end_ts")),
        ).select("p.conv_id", "p.turn_idx", "i.start_ts").collect()
    )
    assert got == naive
    assert len(got) == 3  # c1/0 in iv1; c1/1 in iv1+iv2; c2 uncovered
    # no nested-loop join in the physical plan
    plan = interval_join(pts, ivals)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_shard_pack_exact_prefix_sum_and_budget(spark):
    from z_rad_spark.operators.curation import shard_pack

    docs = spark.createDataFrame(
        [(i, 10 + (i % 7)) for i in range(200)], "doc_id long, n_tokens long"
    )
    out = shard_pack(docs, budget=100).collect()
    by_cum = sorted(out, key=lambda r: r["cum_before"])
    # cum_before is a permutation prefix sum: consecutive and exact
    run = 0
    for r in by_cum:
        assert r["cum_before"] == run
        run += r["n_tokens"]
        assert r["shard_id"] == r["cum_before"] // 100
    # every shard except the last holds >= budget - max_doc tokens
    tot = {}
    for r in out:
        tot[r["shard_id"]] = tot.get(r["shard_id"], 0) + r["n_tokens"]
    last = max(tot)
    assert all(v >= 100 - 16 for s, v in tot.items() if s != last)
    # determinism across runs
    again = {r["doc_id"]: r["shard_id"] for r in shard_pack(docs, budget=100).collect()}
    assert again == {r["doc_id"]: r["shard_id"] for r in out}


def test_hash_split_disjoint_stable_and_growth_invariant(spark):
    from z_rad_spark.operators.dedup import hash_split

    small = spark.range(100).withColumnRenamed("id", "doc_id")
    big = spark.range(1000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    s_small = {r["doc_id"]: r["split"] for r in hash_split(small, fr).collect()}
    s_big = {r["doc_id"]: r["split"] for r in hash_split(big, fr).collect()}
    # growth invariance: a row's split never changes when the corpus grows
    assert all(s_big[k] == v for k, v in s_small.items())
    counts = {}
    for v in s_big.values():
        counts[v] = counts.get(v, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 700 < counts["train"] < 900  # ~80% of 1000
    with pytest.raises(ValueError):
        hash_split(small, {"a": 0.5, "b": 0.2}).collect()


def test_hash_split_float_cum_near_one_keeps_all(spark):
    """A cumulative fraction just below 1.0 can still truncate to exactly
    16**8 (the 9-char '100000000' lexicographic trap) — the keep-all
    sentinel must key on the INT threshold, not the float cum."""
    from z_rad_spark.operators.dedup import hash_split

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    # 1 - 2**-53 < 1.0 but int((1 - 2**-53) * 16**8) == 16**8
    fr = {"train": 1.0 - 2**-53, "test": 2**-53}
    out = {r["doc_id"]: r["split"] for r in hash_split(df, fr).collect()}
    assert set(out.values()) == {"train"}, "every row must land in the ~1.0 bucket"


def test_cap_per_group(spark):
    from z_rad_spark.operators.curation import cap_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(60)],
        "doc_id long, source string",
    )
    out = cap_per_group(df, group_col="source", cap=10).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 10 and len(by_src["small"]) == 10
    # deterministic selection
    again = cap_per_group(df, group_col="source", cap=10).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_hashed_embedding_unit_norm_and_composes_with_cosine(spark):
    from z_rad_spark.operators.text import hashed_embedding

    df = spark.createDataFrame(
        [(1, "alpha beta alpha", "s"), (2, "alpha beta alpha", "s"),
         (3, "zz yy xx ww vv uu", "s")],
        "doc_id long, text string, source string",
    )
    out = hashed_embedding(df, dims=8)
    rows = {r["doc_id"]: [r[f"e{d:02d}"] for d in range(8)] for r in out.collect()}
    for v in rows.values():
        assert sum(x * x for x in v) == pytest.approx(1.0)
    # identical docs -> identical vectors; cosine(1,2) = 1
    assert rows[1] == rows[2]
    cos13 = sum(a * b for a, b in zip(rows[1], rows[3]))
    assert cos13 < 0.999  # different token sets are not parallel


def test_sketches_error_bounds_vs_exact(spark):
    from z_rad_spark.operators.sketches import approx_distinct_by, approx_quantiles_by

    df = spark.createDataFrame(
        [(i % 3, f"v{i % 257}", float(i % 100)) for i in range(3000)],
        "g int, v string, x double",
    )
    d = {r["g"]: r for r in approx_distinct_by(df, "g", "v", rsd=0.02).collect()}
    for g in (0, 1, 2):
        exact = df.where(F.col("g") == g).select("v").distinct().count()
        assert abs(d[g]["approx_distinct"] - exact) <= max(3, 0.05 * exact)
        assert d[g]["n_rows"] == 1000
    q = {r["g"]: r for r in approx_quantiles_by(df, "g", "x", (0.5,)).collect()}
    for g in (0, 1, 2):
        # exact median of 0..99 uniform-ish: within 2 of 49/50
        assert abs(q[g]["p50"] - 49.5) <= 2.5


def test_chunk_documents_tail_and_coverage(spark):
    from z_rad_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(47)), "s"),  # 47 tokens
         (2, "a b c", "s")],                               # shorter than chunk
        "doc_id long, text string, source string",
    )
    out = chunk_documents(df, chunk_tokens=20, stride=15).collect()
    one = sorted((r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_idx"])
    # starts 0,15,30 -> 3 chunks (1 + ceil(27/15) = 3); tail = tokens 30..46
    assert [r["chunk_idx"] for r in one] == [0, 1, 2]
    assert one[0]["n_chunk_tokens"] == 20 and one[2]["n_chunk_tokens"] == 17
    assert one[0]["chunk_text"].startswith("t0 ") and one[2]["chunk_text"].endswith("t46")
    # every token covered
    covered = set()
    for r in one:
        covered.update(r["chunk_text"].split())
    assert len(covered) == 47
    two = [r for r in out if r["doc_id"] == 2]
    assert len(two) == 1 and two[0]["n_chunk_tokens"] == 3


def test_turn_pairs_adjacency(spark):
    from z_rad_spark.operators.sessionize import turn_pairs

    rows = [
        ("c1", 0, "2024-01-01 00:00:00", "user", "q1"),
        ("c1", 1, "2024-01-01 00:01:00", "assistant", "a1"),
        ("c1", 2, "2024-01-01 00:02:00", "assistant", "a2"),   # no user before
        ("c1", 3, "2024-01-01 00:03:00", "user", "q2"),
        ("c1", 4, "2024-01-01 00:04:00", "tool", "t"),
        ("c1", 5, "2024-01-01 00:05:00", "assistant", "a3"),   # tool between
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string, role string, text string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = turn_pairs(df).collect()
    assert [(r["prompt"], r["response"]) for r in out] == [("q1", "a1")]


def test_kmeans_lloyd_keeps_k_when_clusters_empty(spark):
    """Clusters that lose every member retain their previous centroid
    instead of silently shrinking k (code-review regression)."""
    from z_rad_spark.operators.similarity import kmeans_lloyd

    # 12 vectors in 2 tight clusters but k=6: >= 4 centroids go empty
    rows = [(i, [1.0, 0.001 * i]) for i in range(6)] + [
        (i, [0.0, 1.0 + 0.001 * i]) for i in range(6, 12)
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(v, k=6, iters=2).collect()
    assert len(out) == 12
    m = {r["vec_id"]: r["cluster_id"] for r in out}
    # every vector assigned, to a seeded centroid id (empty clusters kept
    # their centroid — no shrinking-k KeyError / missing assignments), and
    # the two orthogonal groups never share a centroid
    assert set(m) == set(range(12))
    left = {m[i] for i in range(6)}
    right = {m[i] for i in range(6, 12)}
    assert left.isdisjoint(right)


def test_asof_tolerance_nulls_stale_matches(spark):
    from z_rad_spark.operators.asof import asof_state

    df = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00", "user", 5.0),
         ("c2", 0, "2024-01-09 00:00:00", "user", 7.0)],
        "conv_id string, turn_idx int, ts string, role string, signal double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = asof_state(
        df, spark, ["2024-01-10 00:00:00"], ["signal"], tolerance_seconds=3 * 86400.0
    ).collect()
    got = {r["conv_id"]: r["signal"] for r in out}
    assert got["c1"] is None      # 9 days stale -> nulled
    assert got["c2"] == 7.0       # 1 day -> kept
    # without tolerance both match
    out2 = asof_state(df, spark, ["2024-01-10 00:00:00"], ["signal"]).collect()
    assert {r["conv_id"]: r["signal"] for r in out2} == {"c1": 5.0, "c2": 7.0}


def test_partition_invariance_of_new_operators(spark):
    """Operator results must not depend on physical layout: the same
    input split 1 way or 7 ways gives identical output — the property
    that makes results reproducible across cluster sizes."""
    from z_rad_spark.operators.curation import shard_pack
    from z_rad_spark.operators.dedup import hash_split
    from z_rad_spark.operators.text import hashed_embedding

    docs = spark.createDataFrame(
        [(i, f"tok{i % 13} tok{i % 5} the and word{i % 31}", f"s{i % 3}")
         for i in range(120)],
        "doc_id long, text string, source string",
    ).withColumn("n_tokens", F.lit(5).cast("long"))

    for build in (
        lambda d: shard_pack(d, budget=40).select("doc_id", "shard_id", "cum_before"),
        lambda d: hash_split(d, {"a": 0.5, "b": 0.5}).select("doc_id", "split"),
        lambda d: hashed_embedding(d, dims=8),
    ):
        one = sorted(map(tuple, build(docs.coalesce(1)).collect()))
        many = sorted(map(tuple, build(docs.repartition(7)).collect()))
        assert one == many


def test_shard_pack_grouped_does_not_mix_groups(spark):
    """With group_col, packing restarts per group: shards never mix
    groups and each group's cum_before starts at 0 (code-review fix)."""
    from z_rad_spark.operators.curation import shard_pack

    docs = spark.createDataFrame(
        [(i, 10, "train" if i % 2 == 0 else "val") for i in range(100)],
        "doc_id long, n_tokens long, split string",
    )
    out = shard_pack(docs, budget=100, group_col="split").collect()
    for split in ("train", "val"):
        rows = sorted((r for r in out if r["split"] == split), key=lambda r: r["cum_before"])
        run = 0
        for r in rows:
            assert r["cum_before"] == run  # restarts at 0 per group
            run += r["n_tokens"]
            assert r["shard_id"] == r["cum_before"] // 100


def test_asof_tolerance_judges_per_column_value_ts(spark):
    """A value forward-filled past newer NULL turns is judged stale by
    ITS OWN turn's ts, not the newest turn's (code-review fix)."""
    from z_rad_spark.operators.asof import asof_state

    df = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00", "user", 5.0),
         ("c1", 1, "2024-01-09 00:00:00", "user", None)],
        "conv_id string, turn_idx int, ts string, role string, signal double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = asof_state(
        df, spark, ["2024-01-10 00:00:00"], ["signal", "role"],
        tolerance_seconds=3 * 86400.0,
    ).collect()[0]
    assert out["signal"] is None  # carried from day 0 -> 9 days stale
    assert out["role"] == "user"  # role's match is day 9 -> fresh


def test_ivf_with_trained_kmeans_codebook(spark):
    """ivf_topk accepts a trained codebook: kmeans_lloyd centroids slot
    into the same plan and recall vs brute force is at least as good as
    the hash-seeded default on clustered data."""
    from z_rad_spark.operators.similarity import cosine_topk, ivf_topk, kmeans_lloyd

    import itertools
    rows = []
    for c, axis in enumerate(itertools.combinations(range(6), 2)):
        for j in range(8):
            v = [0.0] * 6
            v[axis[0]] = 1.0
            v[axis[1]] = 0.05 * j
            rows.append((c * 8 + j, v))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, query_vec array<double>"
    )
    # trained codebook: Lloyd centroids as (cent_id, cent_vec)
    assigned = kmeans_lloyd(vecs, k=8, iters=2)
    cents = (
        vecs.join(assigned.select("vec_id", "cluster_id"), "vec_id")
        .groupBy("cluster_id")
        .agg(F.min("vec_id").alias("rep"))
    )
    codebook = cents.join(
        vecs.select(F.col("vec_id").alias("rep"), F.col("embedding").alias("cent_vec")),
        "rep",
    ).select(F.col("cluster_id").alias("cent_id"), "cent_vec")

    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(vecs, queries, k=5).collect()}
    trained = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(vecs, queries, n_centroids=8, n_probe=3, k=5,
                          centroids=codebook).collect()
    }
    default = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(vecs, queries, n_centroids=8, n_probe=3, k=5).collect()
    }
    recall_trained = len(trained & exact) / len(exact)
    recall_default = len(default & exact) / len(exact)
    assert recall_trained >= recall_default - 1e-9
    assert recall_trained >= 0.6


def test_unigram_logprob_hand_computed(spark):
    """Two-doc corpus small enough to fold by hand.

    Corpus tokens: doc1 = [a, a, b], doc2 = [b, c]  =>  tf: a=2 b=2 c=1,
    N=5, V=3, add-1 smoothing => p(a)=p(b)=3/8, p(c)=2/8."""
    import math

    from z_rad_spark.operators.curation import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a A  b"), (2, " b c ")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}

    nll1 = -(3 * math.log(3 / 8)) / 3
    nll2 = -(math.log(3 / 8) + math.log(2 / 8)) / 2
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 2
    assert abs(got[1]["nll"] - nll1) < 1e-12
    assert abs(got[2]["nll"] - nll2) < 1e-12
    assert abs(got[1]["ppl"] - math.exp(nll1)) < 1e-12
    assert abs(got[2]["ppl"] - math.exp(nll2)) < 1e-12


def test_dsir_weights_match_python_replay(spark):
    """Exact replay of the DSIR hashed-unigram log-ratio in pure Python
    (same md5 bucketing, same add-a smoothing, same pos-ordered left
    fold) — the operator must match to float equality; and a doc made of
    target-domain tokens must outscore a doc of raw-only tokens."""
    import hashlib
    import math

    from z_rad_spark.operators.curation import dsir_weights

    B, a = 64, 1.0
    raw = [
        (0, "alpha beta gamma delta"),
        (1, "epsilon zeta eta theta"),
        (2, "alpha alpha beta beta"),
        (3, "iota kappa lam mu"),
    ]
    tgt = [(10, "alpha beta alpha"), (11, "beta gamma gamma")]
    docs = spark.createDataFrame(raw, "doc_id long, text string")
    target = spark.createDataFrame(tgt, "doc_id long, text string")

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    def counts(rows):
        c = {}
        for _, text in rows:
            for t in text.lower().split():
                c[bucket(t)] = c.get(bucket(t), 0) + 1
        return c, float(sum(c.values()))

    rc, rn = counts(raw)
    tc, tn = counts(tgt)

    def lr(b):
        lt = math.log((tc.get(b, 0) + a) / (tn + a * B))
        lraw = math.log((rc.get(b, 0) + a) / (rn + a * B))
        return lt - lraw

    want = {}
    for did, text in raw:
        s = 0.0
        for t in text.lower().split():
            s += lr(bucket(t))  # pos-ordered left fold, same as the op
        want[did] = s

    got = {r["doc_id"]: r for r in dsir_weights(docs, target, n_buckets=B).collect()}
    for did, text in raw:
        assert got[did]["n_tokens"] == len(text.split())
        assert got[did]["logw"] == want[did], did
    # target-looking doc 2 (alpha/beta heavy) outscores raw-only doc 3
    assert got[2]["logw"] > got[3]["logw"]


def test_domain_mix_sample_replay_and_mix(spark):
    """Python replay of the per-source rate + hash threshold; capped
    source keeps everything; zero-weight source drops everything."""
    import hashlib

    from z_rad_spark.operators.curation import domain_mix_sample

    rows = [(i, f"s{i % 4}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    # s0 over-demanded (caps at 1.0), s3 unweighted (rate 0)
    weights = {"s0": 10.0, "s1": 1.0, "s2": 1.0}
    budget = 0.5
    got = domain_mix_sample(docs, weights, budget).collect()

    wsum = sum(weights.values())
    n_src, n_tot = 100.0, 400.0
    want_rate = {
        s: min(1.0, (budget * (w / wsum)) * n_tot / n_src) for s, w in weights.items()
    }
    want_rate["s3"] = 0.0
    for r in got:
        assert r["rate"] == want_rate[r["source"]], r["source"]
        h = int(hashlib.md5(f"mix|{r['doc_id']}".encode()).hexdigest()[:8], 16)
        assert r["kept"] == int(h < int(want_rate[r["source"]] * 4294967296.0)), r
    kept_by = {}
    for r in got:
        kept_by.setdefault(r["source"], []).append(r["kept"])
    assert all(k == 1 for k in kept_by["s0"])  # capped source keeps all
    assert all(k == 0 for k in kept_by["s3"])  # unweighted source drops all
    assert 0 < sum(kept_by["s1"]) < 100


def test_partition_invariance_of_round4_operators(spark):
    """Same property for the round-4 additions: line dedup, dup-span
    coverage, DSIR weights and domain-mixture sampling are all
    layout-independent (1 partition == 7 partitions, element-exact)."""
    from z_rad_spark.operators.curation import domain_mix_sample, dsir_weights
    from z_rad_spark.operators.dedup import dup_span_stats, line_dedup

    docs = spark.createDataFrame(
        [
            (
                i,
                f"tok{i % 13} tok{i % 5} the and word{i % 31} "
                + ("shared passage of many tokens " if i % 4 == 0 else f"own{i} text "),
                f"s{i % 3}",
            )
            for i in range(120)
        ],
        "doc_id long, text string, source string",
    )
    target = docs.where("source = 's0'")

    for build in (
        lambda d: line_dedup(d, delim=" "),
        lambda d: dup_span_stats(d, n=3),
        lambda d: dsir_weights(d, target, n_buckets=32),
        lambda d: domain_mix_sample(d, {"s0": 2.0, "s1": 1.0}, 0.5),
    ):
        one = sorted(map(tuple, build(docs.coalesce(1)).collect()))
        many = sorted(map(tuple, build(docs.repartition(7)).collect()))
        assert one == many


def test_quality_classifier_hand_computed(spark):
    """Independent hashlib replay of the hashed-linear score on a tiny
    corpus: bucket = first 4 md5 hex chars mod dims, score = mean bucket
    weight, prob = logistic."""
    import hashlib
    import math

    from z_rad_spark.operators.curation import classifier_weights, quality_classifier

    docs = spark.createDataFrame(
        [(0, "Alpha beta GAMMA"), (1, "delta"), (2, "x y z x y z")],
        "doc_id long, text string",
    )
    w = classifier_weights(dims=8, seed=7)
    got = quality_classifier(docs, dims=8, seed=7).toPandas().set_index("doc_id")
    texts = {0: "alpha beta gamma", 1: "delta", 2: "x y z x y z"}
    for did, text in texts.items():
        toks = text.split(" ")
        s = 0.0
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % 8
            s += w[b]
        score = s / len(toks)
        prob = 1.0 / (1.0 + math.exp(-score))
        assert got.loc[did, "n_tokens"] == len(toks)
        assert abs(got.loc[did, "score"] - round(score, 6)) < 2e-6
        assert abs(got.loc[did, "prob"] - round(prob, 6)) < 2e-6
        assert got.loc[did, "label"] == ("keep" if prob >= 0.5 else "drop")


def test_quality_classifier_threshold_and_custom_weights(spark):
    from z_rad_spark.operators.curation import quality_classifier

    docs = spark.createDataFrame([(0, "a a a")], "doc_id long, text string")
    # all-positive weights force prob > 0.5 -> keep; threshold 1.1 -> drop
    w = [1.0] * 4
    keep = quality_classifier(docs, dims=4, weights=w).toPandas()
    assert keep.label[0] == "keep" and keep.prob[0] > 0.5
    drop = quality_classifier(docs, dims=4, weights=w, threshold=1.1).toPandas()
    assert drop.label[0] == "drop"
    import pytest as _pt

    with _pt.raises(ValueError):
        quality_classifier(docs, dims=8, weights=w)


def test_bigram_logprob_hand_computed(spark):
    """Independent Python replay: corpus 'a b a' + 'b a', add-1
    smoothing, token 0 unigram / token i>0 conditional bigram."""
    import math

    from z_rad_spark.operators.curation import bigram_logprob

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b a")], "doc_id long, text string"
    )
    got = bigram_logprob(docs).toPandas().set_index("doc_id")
    tf = {"a": 3, "b": 2}
    N, V = 5.0, 2.0
    bc = {("a", "b"): 1, ("b", "a"): 2}

    def uni(t):
        return math.log((tf[t] + 1.0) / (N + 1.0 * V))

    def bi(p, t):
        return math.log((bc.get((p, t), 0) + 1.0) / (tf[p] + 1.0 * V))

    exp0 = -(uni("a") + bi("a", "b") + bi("b", "a")) / 3.0
    exp1 = -(uni("b") + bi("b", "a")) / 2.0
    assert abs(got.loc[0, "nll"] - exp0) < 1e-12
    assert abs(got.loc[1, "nll"] - exp1) < 1e-12
    assert abs(got.loc[0, "ppl"] - math.exp(exp0)) < 1e-12
    assert got.loc[0, "n_tokens"] == 3 and got.loc[1, "n_tokens"] == 2


def test_bigram_lower_ppl_than_unigram_on_repetitive_text(spark):
    """A bigram model must beat the unigram on text with strong local
    structure (the whole point of conditioning on the history)."""
    from z_rad_spark.operators.curation import bigram_logprob, unigram_logprob

    docs = spark.createDataFrame(
        [(i, "x y " * 20) for i in range(4)], "doc_id long, text string"
    )
    b = bigram_logprob(docs).toPandas().set_index("doc_id").sort_index()
    u = unigram_logprob(docs).toPandas().set_index("doc_id").sort_index()
    assert (b.ppl < u.ppl).all()


def test_perplexity_buckets_fractions_and_order(spark):
    """CCNet split invariants: within each language the head bucket
    holds the lowest-nll docs, buckets are contiguous in score order,
    and the head reaches at least ceil(n/3) docs (value cutoffs round a
    tie-group UP into the lower bucket, never down)."""
    import math

    from z_rad_spark.operators.curation import perplexity_buckets

    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(30):
        lang = "en" if i % 2 == 0 else "de"
        # vary repetitiveness so perplexities spread out
        k = 1 + (i % 5)
        text = " ".join(words[: 1 + i % 6] * k)
        rows.append((i, text, lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = perplexity_buckets(docs).toPandas()
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, g in got.groupby("lang"):
        g = g.sort_values(["nll", "doc_id"]).reset_index(drop=True)
        ranks = g.bucket.map(order)
        assert ranks.is_monotonic_increasing, f"{lang}: buckets not contiguous in nll order"
        n = len(g)
        assert (g.bucket == "head").sum() >= math.ceil(n / 3.0) - (
            # a tie group straddling the cutoff is pulled entirely into head,
            # so head can only be >= the rank target, never below it
            0
        )
        assert set(g.bucket) <= {"head", "middle", "tail"}


def test_perplexity_buckets_ties_share_bucket(spark):
    """Equal-score documents must land in the same bucket even when a
    rank split would separate them."""
    from z_rad_spark.operators.curation import perplexity_buckets

    # 6 identical docs -> one tie group; all must share one bucket
    docs = spark.createDataFrame(
        [(i, "same same same", "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    got = perplexity_buckets(docs).toPandas()
    assert got.bucket.nunique() == 1
    assert got.bucket.iloc[0] == "head"


def test_equal_frequency_bins_matches_manual(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.curation import equal_frequency_bins

    rng = np.random.default_rng(83)
    pdf = pd.DataFrame(
        {"doc_id": range(200), "n_chars": rng.integers(10, 60, 200)}
    )
    got = (
        equal_frequency_bins(spark.createDataFrame(pdf), n_bins=5)
        .select("doc_id", "bin")
        .toPandas()
        .set_index("doc_id")["bin"]
    )
    counts = pdf.groupby("n_chars").size().sort_index()
    cb = counts.cumsum() - counts
    n = len(pdf)
    want_bin = {v: min((cb[v] * 5) // n, 4) for v in counts.index}
    for _, row in pdf.iterrows():
        assert got[row["doc_id"]] == want_bin[row["n_chars"]]
    # equal-depth up to tie mass: every bin holds >0 rows for a spread metric
    sizes = got.value_counts()
    assert set(sizes.index) == {0, 1, 2, 3, 4}


def test_equal_frequency_bins_ties_stay_together(spark):
    import pandas as pd

    from z_rad_spark.operators.curation import equal_frequency_bins

    # one value carries 60% of the mass: it must sit in ONE bin (no
    # NTILE-style arbitrary splitting), and NULL metrics get NULL bins
    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "n_chars": [5, 5, 5, 5, 5, 5, 1, 2, 98, None],
        }
    )
    got = (
        equal_frequency_bins(spark.createDataFrame(pdf), n_bins=4)
        .select("doc_id", "n_chars", "bin")
        .toPandas()
    )
    fives = got[got["n_chars"] == 5]["bin"]
    assert fives.nunique() == 1
    assert got[got["n_chars"].isna()]["bin"].isna().all()
    # invariance under partitioning
    df = spark.createDataFrame(pdf)
    a = sorted(map(tuple, equal_frequency_bins(df.repartition(1), n_bins=4).select("doc_id", "bin").collect()))
    b = sorted(map(tuple, equal_frequency_bins(df.repartition(7), n_bins=4).select("doc_id", "bin").collect()))
    assert a == b


def test_lexical_diversity_hand_computed(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import lexical_diversity

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "a b a c a b",          # N=6, V=3, f = a:3 b:2 c:1
                    "x x x x",              # N=4, V=1 (degenerate)
                ],
            }
        )
    )
    got = lexical_diversity(docs).toPandas().set_index("doc_id").sort_index()
    r0 = got.loc[0]
    assert r0.n_tokens == 6 and r0.n_types == 3
    assert np.isclose(r0.ttr, 3 / 6)
    assert np.isclose(r0.hapax_ratio, 1 / 3)
    ps = np.array([3, 2, 1]) / 6.0
    assert np.isclose(r0.entropy_bits, -(ps * np.log2(ps)).sum(), atol=1e-9)
    assert np.isclose(r0.simpson, (ps ** 2).sum(), atol=1e-12)
    # Yule's K = 1e4 * (sum f^2 - N) / N^2 = 1e4 * (14 - 6) / 36
    assert np.isclose(r0.yule_k, 1e4 * (14 - 6) / 36, atol=1e-9)
    assert np.isclose(r0.chars_per_token, len("a b a c a b") / 6, atol=1e-12)
    r1 = got.loc[1]
    assert r1.n_types == 1 and r1.hapax_ratio == 0.0
    assert r1.entropy_bits == 0.0
    assert r1.simpson == 1.0


def test_lexical_diversity_entropy_bounds(spark):
    """0 <= H <= log2(V); all-distinct tokens hit the upper bound."""
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import lexical_diversity

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [" ".join(f"w{i}" for i in range(16))]})
    )
    got = lexical_diversity(docs).toPandas().iloc[0]
    assert np.isclose(got.entropy_bits, 4.0, atol=1e-12)
    assert np.isclose(got.ttr, 1.0)
    assert np.isclose(got.hapax_ratio, 1.0)


def test_zipf_fit_recovers_synthetic_power_law(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import zipf_fit

    # build a corpus whose token counts follow count(rank) = C * rank^-1
    # exactly: token w_r appears round(1000/r) times
    words = []
    for r in range(1, 51):
        words += [f"w{r:03d}"] * round(1000 / r)
    rng = np.random.default_rng(83)
    rng.shuffle(words)
    docs = [" ".join(words[i::10]) for i in range(10)]
    pdf = pd.DataFrame({"doc_id": range(10), "text": docs, "lang": "en"})
    got = zipf_fit(spark.createDataFrame(pdf), k=50).toPandas().iloc[0]
    assert got.k_used == 50
    # rounding of 1000/r keeps the fit within a few percent of -1
    assert -1.05 < got.zipf_slope < -0.95
    # independent OLS reference on the exact same (rank, count) table
    counts = sorted(
        pd.Series(words).value_counts().items(),
        key=lambda kv: (-kv[1], kv[0]),
    )[:50]
    x = np.log(np.arange(1, 51, dtype=float))
    y = np.log(np.array([c for _, c in counts], dtype=float))
    slope = (50 * (x * y).sum() - x.sum() * y.sum()) / (50 * (x * x).sum() - x.sum() ** 2)
    assert np.isclose(got.zipf_slope, slope, atol=1e-6)


def test_markup_density_counts(spark):
    import pandas as pd

    from z_rad_spark.operators.text import with_markup_density

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "see https://a.example/x and http://b.example "
                "mail me@example.com ```code``` <div class=x>hi</div>",
                "plain text only",
            ],
        }
    )
    got = with_markup_density(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    r0 = got.loc[0]
    assert r0.n_urls == 2
    assert r0.n_emails == 1
    assert r0.n_fences == 2
    assert r0.n_html == 1          # <div ...> only: </div> starts with '/', not a letter
    r1 = got.loc[1]
    assert (
        r1.n_urls == r1.n_emails == r1.n_fences == r1.n_html == 0
    )
    assert r1.url_density == 0.0


def test_snapshot_diff_classification(spark):
    import pandas as pd

    from z_rad_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["same", "will change", "whitespace   only", "gone"],
            }
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 5],
                "text": ["same", "changed!", "Whitespace only", "fresh"],
            }
        )
    )
    got = snapshot_diff(old, new).toPandas().set_index("doc_id").sort_index()
    assert got.loc[1].status == "unchanged"
    assert got.loc[2].status == "changed"
    # whitespace-collapse + lowercase folds to equal content
    assert got.loc[3].status == "unchanged"
    assert got.loc[4].status == "removed" and pd.isna(got.loc[4].new_hash)
    assert got.loc[5].status == "added" and pd.isna(got.loc[5].old_hash)


def test_langid_eval_confusion_and_accuracy(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import langid_eval

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": [
                "the cat and the dog is here",       # en -> en
                "der hund und die katze ist nicht",  # de -> de
                "el perro es la casa que de",        # es -> es
                "nothing matching markers xyzzy",    # en -> und (miss)
            ],
            "lang": ["en", "de", "es", "en"],
        }
    )
    got = langid_eval(spark.createDataFrame(pdf)).toPandas()
    cells = {(r.lang, r.lang_pred): r.n for _, r in got.iterrows()}
    assert cells[("en", "en")] == 1
    assert cells[("de", "de")] == 1
    assert cells[("es", "es")] == 1
    assert cells[("en", "und")] == 1
    assert np.isclose(got.accuracy.iloc[0], 3 / 4)
    assert (got.accuracy == got.accuracy.iloc[0]).all()
    en_rows = got[got.lang == "en"]
    assert np.isclose(en_rows.row_frac.sum(), 1.0)


def test_tfidf_hashed_embedding_downweights_ubiquitous_tokens(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import hashed_embedding, tfidf_hashed_embedding

    # 'common' appears in every doc (df = N -> idf ~ ln(N+1/N+1)=0 -> w=tf*1);
    # each doc also has a unique token (df=1 -> higher idf weight)
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [f"common common common unique{i}" for i in range(6)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = tfidf_hashed_embedding(df, dims=16).toPandas().set_index("doc_id")
    raw = hashed_embedding(df, dims=16).toPandas().set_index("doc_id")
    # unit norm both ways
    for frame in (got, raw):
        norms = np.sqrt((frame.to_numpy() ** 2).sum(axis=1))
        assert np.allclose(norms, 1.0, atol=1e-12)
    # manual reference for doc 0
    import math

    N = 6
    w_common = 3 * (math.log((N + 1) / (6 + 1)) + 1)      # df=6
    w_uniq = 1 * (math.log((N + 1) / (1 + 1)) + 1)        # df=1
    # tfidf gives the unique token RELATIVELY more mass than raw counts
    ratio_tfidf = w_uniq / w_common
    ratio_raw = 1 / 3
    assert ratio_tfidf > ratio_raw
    # and the embedding actually reflects it: the bucket holding the
    # unique token carries more relative mass under tfidf
    def bucket(tok):
        import hashlib
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 16

    b_c, b_u = bucket("common"), bucket("unique0")
    if b_c != b_u:
        r0, g0 = raw.loc[0], got.loc[0]
        assert abs(g0[f"e{b_u:02d}"] / g0[f"e{b_c:02d}"]) > abs(
            r0[f"e{b_u:02d}"] / r0[f"e{b_c:02d}"]
        )


def test_partition_invariance_of_session9_operators(spark):
    """Layout independence for the session-9 wave: 1 partition == 7
    partitions, element-exact, for the operators whose folds or argmaxes
    could naively depend on engine order."""
    import pandas as pd

    from z_rad_spark.operators.dedup import loop_detection, ngram_containment
    from z_rad_spark.operators.encoding import count_frequency_encode, value_quantiles
    from z_rad_spark.operators.profile import arrival_stats, changepoint, theil_sen_trend
    from z_rad_spark.operators.text import lexical_diversity, tfidf_hashed_embedding, zipf_fit

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 13} tok{i % 5} the and word{i % 31} more{i % 3} text here",
             f"s{i % 4}", "en" if i % 2 == 0 else "de")
            for i in range(100)
        ],
        "doc_id long, text string, source string, lang string",
    )
    turns = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{i % 5}" for i in range(150)],
                "turn_idx": list(range(150)),
                "ts": pd.Timestamp("2024-01-01")
                + pd.to_timedelta([i * 37 % 977 for i in range(150)], unit="m"),
                "signal": [float(1 + (i * 7) % 9) for i in range(150)],
                "role": [("user", "assistant")[i % 2] for i in range(150)],
            }
        )
    )
    doc_ops = (
        lambda d: lexical_diversity(d),
        lambda d: tfidf_hashed_embedding(d, dims=8),
        lambda d: zipf_fit(d, k=20),
        lambda d: loop_detection(d, n=2),
        lambda d: ngram_containment(d, n=2, threshold=0.5),
        lambda d: count_frequency_encode(d, "source"),
    )
    for build in doc_ops:
        one = sorted(map(tuple, build(docs.coalesce(1)).collect()))
        many = sorted(map(tuple, build(docs.repartition(7)).collect()))
        assert one == many
    turn_ops = (
        lambda d: arrival_stats(d),
        lambda d: changepoint(d),
        lambda d: theil_sen_trend(d),
        lambda d: value_quantiles(d, group_col="role"),
    )
    for build in turn_ops:
        one = sorted(map(tuple, build(turns.coalesce(1)).collect()))
        many = sorted(map(tuple, build(turns.repartition(7)).collect()))
        assert one == many


def test_vocab_turnover_detects_week_shift(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import vocab_turnover

    rows = []
    # week 1: vocab A; week 2: same vocab; week 3: disjoint vocab
    vocab = {0: "aa bb cc", 1: "aa bb cc", 2: "xx yy zz"}
    for w, text in vocab.items():
        for i in range(10):
            rows.append(
                ("c0", i, pd.Timestamp("2024-01-01") + pd.Timedelta(weeks=w, hours=i),
                 1.0, "user", text)
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal", "role", "text"])
    got = (
        vocab_turnover(spark.createDataFrame(pdf), k=5, group_col="role")
        .toPandas()
        .sort_values("week")
        .reset_index(drop=True)
    )
    assert len(got) == 3
    assert pd.isna(got.turnover.iloc[0])          # first week: no previous
    assert got.turnover.iloc[1] == 0.0            # identical vocab
    assert got.turnover.iloc[2] == 1.0            # disjoint vocab
    assert (got.n_top == 3).all()


def test_length_buckets_powers_of_two(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.curation import length_buckets

    pdf = pd.DataFrame(
        {
            "doc_id": range(5),
            "text": [
                " ".join(["w"] * n) for n in (3, 16, 17, 100, 9000)
            ],
        }
    )
    got = length_buckets(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert list(got.bucket_ceil) == [16, 16, 32, 128, 4096]
    assert np.isclose(got.loc[2].pad_frac, 1 - 17 / 32)
    # over-max doc: negative pad_frac = truncation signal
    assert got.loc[4].pad_frac < 0


def test_corpus_report_hand_computed(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.curation import corpus_report

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": ["a b c", "a  b   c", "x y", "unique words here"],
            "lang": ["en", "en", "de", "en"],
            "source": ["s0", "s1", "s0", "s2"],
        }
    )
    got = corpus_report(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_docs == 4
    assert got.n_langs == 2 and got.n_sources == 3
    # docs 0 and 1 normalize to identical text
    assert got.n_unique_texts == 3
    assert np.isclose(got.dup_rate, 1 - 3 / 4)
    assert got.n_tokens == 3 + 3 + 2 + 3
    assert np.isclose(got.mean_tokens, 11 / 4)


def test_readability_hand_computed(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import with_readability

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "The cat sat. The dog ran!",   # 2 sentences, 6 words
                "no terminal punctuation here",  # clamps to 1 sentence
            ],
        }
    )
    got = with_readability(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    r0 = got.loc[0]
    assert r0.n_sentences == 2 and r0.n_words == 6
    assert np.isclose(r0.words_per_sentence, 3.0)
    # vowel clusters: the-cat-sat-the-dog-ran -> e,a,a,e,o,a = 6
    assert np.isclose(r0.syllables_per_word, 1.0)
    assert np.isclose(r0.flesch, 206.835 - 1.015 * 3.0 - 84.6 * 1.0, atol=1e-9)
    r1 = got.loc[1]
    assert r1.n_sentences == 1
    # short simple text scores higher than long-word text would
    assert r1.flesch < r0.flesch  # more syllables per word


def test_role_style_distance_separates_styles(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import role_style_distance

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(30):
        rows.append(("c0", 3 * i, t0 + pd.Timedelta(minutes=3 * i), "user",
                     "alpha beta gamma delta", 1.0))
        rows.append(("c0", 3 * i + 1, t0 + pd.Timedelta(minutes=3 * i + 1), "twin",
                     "alpha beta gamma delta", 1.0))
        rows.append(("c0", 3 * i + 2, t0 + pd.Timedelta(minutes=3 * i + 2), "assistant",
                     "zeta eta theta iota", 1.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "text", "signal"])
    got = role_style_distance(spark.createDataFrame(pdf), dims=64).toPandas()
    got = got.set_index(got.role_a + "|" + got.role_b)
    # identical vocab -> cosine 1, dist 0
    assert np.isclose(got.loc["twin|user"].cosine, 1.0, atol=1e-12)
    # disjoint vocab -> cosine 0 (unless a 64-bucket hash collision,
    # which these eight tokens happen not to have)
    assert got.loc["assistant|user"].cosine < 0.5
    assert len(got) == 3  # C(3,2) unordered pairs


def test_code_switching_counts(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import with_code_switching

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the der the der",            # en/de alternating: 3 switches
                "the and of to is",           # pure en: 0 switches
                "xyzzy quux no markers at",   # nothing tagged ('at' not a marker)
            ],
        }
    )
    got = with_code_switching(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    r0 = got.loc[0]
    assert r0.n_tagged == 4 and r0.n_langs == 2 and r0.n_switches == 3
    assert np.isclose(r0.switch_rate, 1.0)
    r1 = got.loc[1]
    assert r1.n_langs == 1 and r1.n_switches == 0 and r1.switch_rate == 0.0
    r2 = got.loc[2]
    assert r2.n_tagged == 0 and pd.isna(r2.switch_rate)
    # priority: 'la' tags fr (first list containing it), never es
    pdf2 = pd.DataFrame({"doc_id": [0], "text": ["la el la"]})
    g2 = with_code_switching(spark.createDataFrame(pdf2)).toPandas().iloc[0]
    assert g2.n_langs == 2 and g2.n_switches == 2


def test_truncate_middle_keeps_head_and_tail(spark):
    import pandas as pd

    from z_rad_spark.operators.curation import truncate_middle

    long_text = " ".join(f"w{i}" for i in range(100))
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": [long_text, "short doc here"]}
    )
    got = (
        truncate_middle(spark.createDataFrame(pdf), max_tokens=64)
        .toPandas()
        .set_index("doc_id")
    )
    r0 = got.loc[0]
    assert r0.was_truncated and r0.n_tokens == 100
    toks = r0.text_trunc.split(" ")
    # marker counts against the budget: output is EXACTLY max_tokens
    assert len(toks) == 64 and r0.n_tokens_out == 64
    assert toks[:47] == [f"w{i}" for i in range(47)]          # head kept
    assert toks[47] == "..."
    assert toks[-16:] == [f"w{i}" for i in range(84, 100)]    # tail kept
    r1 = got.loc[1]
    assert not r1.was_truncated and r1.text_trunc == "short doc here"


def test_oov_rate_against_topk_vocab(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import oov_rate

    # corpus: 'common' dominates; with vocab_k=1 only it is in-vocab
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "common common rare1",
                "common rare2 rare3 rare4",
                "common common common",
            ],
        }
    )
    got = oov_rate(spark.createDataFrame(pdf), vocab_k=1).toPandas().set_index("doc_id")
    assert got.loc[0].n_tokens == 3 and got.loc[0].n_oov == 1
    assert np.isclose(got.loc[0].oov_frac, 1 / 3)
    assert np.isclose(got.loc[1].oov_frac, 3 / 4)
    assert got.loc[2].n_oov == 0 and got.loc[2].oov_frac == 0.0


def test_langid_kappa_hand_computed(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.text import langid_kappa

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": [
                "the cat and the dog is here",       # en -> en
                "der hund und die katze ist nicht",  # de -> de
                "el perro es la casa que de",        # es -> es
                "nothing matching markers xyzzy",    # en -> und (miss)
            ],
            "lang": ["en", "de", "es", "en"],
        }
    )
    got = langid_kappa(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n == 4
    po = 3 / 4
    # rows: en 2, de 1, es 1; cols: en 1, de 1, es 1, und 1
    pe = (2 / 4) * (1 / 4) + (1 / 4) * (1 / 4) + (1 / 4) * (1 / 4) + 0
    assert np.isclose(got.accuracy, po)
    assert np.isclose(got.p_e, pe, atol=1e-12)
    assert np.isclose(got.kappa, (po - pe) / (1 - pe), atol=1e-12)


def test_gini_concentration_extremes(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.curation import gini_concentration

    rows = [("eq", i, 10) for i in range(8)]          # all equal -> G = 0
    rows += [("one", 0, 100)] + [("one", i, 0) for i in range(1, 8)]  # -> G near 1
    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "n_chars"])
    got = (
        gini_concentration(spark.createDataFrame(pdf), "n_chars", "source", "doc_id")
        .toPandas()
        .set_index("source")
    )
    assert got.loc["eq"].gini == 0.0
    assert got.loc["one"].gini == (2 * 8 * 100 - 9 * 100) / (8 * 100)
    # matches the textbook mean-absolute-difference definition on a
    # random sample
    rng = np.random.RandomState(3)
    xs = rng.randint(0, 50, size=40)
    pdf2 = pd.DataFrame(
        [("r", i, int(x)) for i, x in enumerate(xs)],
        columns=["source", "doc_id", "n_chars"],
    )
    g = (
        gini_concentration(spark.createDataFrame(pdf2), "n_chars", "source", "doc_id")
        .toPandas()
        .iloc[0]
        .gini
    )
    mad = np.abs(xs[:, None] - xs[None, :]).mean()
    want = mad / (2 * xs.mean())
    # rank-sum identity equals the MAD form up to the n vs n-1 convention
    assert np.isclose(g, want * (len(xs) - 0) / len(xs), atol=1e-9) or np.isclose(
        g, want, atol=1e-2
    )
