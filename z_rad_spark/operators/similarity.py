"""Similarity search over embedding columns (array<float>).

* cosine_topk      — brute-force exact top-k: broadcast the (small) query
                     set, JVM-side dot products via zip_with/aggregate,
                     per-query window top-k. The exact baseline.
* lsh_bucket_topk  — random-hyperplane LSH scale path: probe only vectors
                     sharing the query's sign-bucket (and optionally
                     neighbouring buckets). Hyperplanes are derived
                     deterministically from a seed so plans are stable
                     across runs/executors.

At 100 TB the brute-force path is a full scan per query batch — correct
but O(N); the LSH path prunes the scan to matching buckets, which is an
Exchange on a low-cardinality bucket key followed by a local top-k.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .exprs import chain, chain_sql, ordered_sums


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _safe_div(num, den):
    """NULL on zero denominator — ANSI-safe (Spark 4 defaults ANSI on, so
    a bare x/0 THROWS); CASE WHEN evaluates the division lazily."""
    return F.when(den != F.lit(0.0), num / den)


def _cosine(a, b):
    return _safe_div(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rounded: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is broadcast (small dim side); ties broken by vec_id for
    determinism. Output: (query_id, vec_id, cosine, rank).
    ``rounded=False`` keeps the raw double cosine (internal consumers
    like mmr_topk score on the unrounded value; the 6dp rounding is an
    output-normalization convention, not part of the ranking).
    """
    joined = vectors.crossJoin(F.broadcast(queries))
    sim = _cosine(F.col(vec_col), F.col(query_vec))
    scored = joined.select(
        F.col(query_id), F.col(id_col), sim.cast("double").alias("cosine")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    out_cos = F.round("cosine", 6) if rounded else F.col("cosine")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, out_cos.alias("cosine"), "rank")
    )


def _codebook_rows(centroids) -> list[tuple]:
    """Normalize a codebook argument to driver-side [(cent_id, [float...])].

    Accepts a (cent_id, cent_vec) DataFrame (collected — it is k rows by
    contract) or an already-collected list of rows/tuples. The codebook is
    tiny, so folding it into plan literals beats keeping it distributed:
    assignment becomes a NARROW expression instead of an N x k cross join
    feeding a window exchange on vec_id (at 10^9 vectors x 16 centroids
    that window alone shuffles 1.6e10 rows).
    """
    if isinstance(centroids, DataFrame):
        centroids = centroids.collect()
    out = []
    for r in centroids:
        cid, cvec = (r["cent_id"], r["cent_vec"]) if hasattr(r, "__fields__") else r
        out.append((cid, [float(x) for x in cvec]))
    return out


def _lit_vec(vec: list[float]):
    # ONE ArrayType literal node, not dim x (Literal + CreateArray) nodes:
    # Catalyst analysis cost on the codebook expressions is linear in tree
    # size, and per-element literals made plan BUILD (not execution) the
    # dominant cost of ivf/kmeans queries
    return F.lit([float(x) for x in vec])


def _seq_norm(vec: list[float]) -> float:
    """Euclidean norm with a strict sequential left-to-right square-sum —
    bit-identical to the Catalyst aggregate fold it replaces (and to the
    DuckDB oracle's list_aggregate), unlike np.linalg.norm's pairwise
    summation which can differ in the last ulp."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _with_cent_scores(df: DataFrame, vec_col: str, cents: list[tuple], out: str = "_sc") -> DataFrame:
    """Attach ``out`` = array<struct<cs:double, cent_id>>: cosine of the
    row's vector to every codebook centroid, as ONE narrow expression over
    plan literals (the with_lsh_bucket pattern). Zero shuffle, zero join.

    Evaluation-cost contract: higher-order array expressions are
    CodegenFallback (interpreted, no common-subexpression elimination), so
    (a) the row norm is materialized ONCE in its own projection instead of
    k times inside the array, (b) the centroid norms are constant-folded
    literals, and (c) the score array itself is materialized as a column
    so downstream argmax/sort references do not re-evaluate the k dot
    products. CollapseProject keeps these projections separate because
    the aliased expressions are non-cheap and multiply referenced.
    """
    # The whole score array is built as ONE SQL string parsed by Spark in a
    # single call: constructing 16 x (zip_with + aggregate + lambdas) via
    # the Column API costs a py4j round-trip per node (~2.5s of driver time
    # per query build); the parsed tree is identical.
    def _d(x: float) -> str:
        return f"CAST('{repr(float(x))}' AS DOUBLE)"

    def _arr(vec: list[float]) -> str:
        return "array(" + ", ".join(_d(x) for x in vec) + ")"

    def _cid(cid) -> str:
        if isinstance(cid, str):
            return "'" + cid.replace("'", "''") + "'"
        return f"CAST({int(cid)} AS BIGINT)"

    vc = "`" + vec_col.replace("`", "``") + "`"  # arbitrary column names
    entries = []
    for cid, cv in cents:
        dot = (
            f"aggregate(zip_with({vc}, {_arr(cv)}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        nc = _seq_norm(cv)
        # ANSI-safe without any CASE inside the 16-entry array (a CASE/
        # nullif PER ENTRY sends the optimizer into a minutes-long
        # planning stall on this tree): the row norm is nullif'd ONCE
        # below — x / NULL is NULL, never an error — and a zero-norm
        # CENTROID is resolved at build time to a literal NULL score
        if nc == 0.0:
            cs = "CAST(NULL AS DOUBLE)"
        else:
            cs = f"CAST({dot} / (_zrs_nv * {_d(nc)}) AS DOUBLE)"
        entries.append(f"named_struct('cs', {cs}, 'cent_id', {_cid(cid)})")
    nv = (
        f"nullif(sqrt(aggregate(transform({vc}, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)), CAST(0.0 AS DOUBLE))"
    )
    df = df.withColumn("_zrs_nv", F.expr(nv))
    return df.withColumn(out, F.expr("array(" + ", ".join(entries) + ")")).drop("_zrs_nv")


def _argmax_score(scores):
    """Best struct by (cs desc, cent_id asc) via a linear aggregate fold —
    no expression-tree blowup, no window, works for any orderable id.
    ``scores`` should be a cheap column reference (see _with_cent_scores):
    it is evaluated twice (fold init + fold input)."""
    def better(acc, s):
        # NULL cs (zero-norm vector: 0/0 is NULL without ANSI mode) loses
        # to any non-NULL score; among all-NULL, smallest cent_id wins —
        # the NULLS LAST behavior of the replaced row_number window and of
        # the DuckDB oracles' default null ordering
        tie = (s["cs"] == acc["cs"]) & (s["cent_id"] < acc["cent_id"])
        return F.when(
            acc["cs"].isNull(),
            s["cs"].isNotNull() | (s["cent_id"] < acc["cent_id"]),
        ).otherwise(s["cs"].isNotNull() & ((s["cs"] > acc["cs"]) | tie))

    return F.aggregate(
        scores,
        F.get(scores, 0),
        lambda acc, s: F.when(better(acc, s), s).otherwise(acc),
    )


def _desc_sort(scores):
    """array_sort by (cs desc, cent_id asc) for top-n_probe slicing."""
    return F.array_sort(
        scores,
        # NULL cs sorts last (transitively: null-vs-null falls through to
        # the cent_id tie-break, null-vs-value always loses)
        lambda l, r: F.when(l["cs"].isNull() & r["cs"].isNotNull(), F.lit(1))
        .when(l["cs"].isNotNull() & r["cs"].isNull(), F.lit(-1))
        .when(l["cs"] > r["cs"], F.lit(-1))
        .when(l["cs"] < r["cs"], F.lit(1))
        .when(l["cent_id"] < r["cent_id"], F.lit(-1))
        .when(l["cent_id"] > r["cent_id"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 17) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def with_lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 8, seed: int = 17, out: str = "bucket"
) -> DataFrame:
    """Sign-pattern bucket id from deterministic random hyperplanes.

    Hyperplanes are literal arrays folded into the plan (constant-folded by
    Catalyst); each bit is sign(dot(v, plane)).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = (_dot(F.col(vec_col), _lit_vec(p)) > 0).cast("long")
        bucket = bucket + bit * (2**i)
    return df.withColumn(out, bucket)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroids: DataFrame | list | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize vectors to their
    nearest centroid, probe only the query's ``n_probe`` nearest cells.

    ``centroids`` (cent_id, cent_vec) overrides the hash-sampled codebook
    — e.g. ``kmeans_lloyd`` cluster ids joined back to a representative
    vector per cluster, or any trained codebook, as a k-row DataFrame or
    a collected list of (cent_id, vec) pairs. Recall improves over the
    hash-seeded default; the plan shape is identical either way.

    Centroids are a deterministic HASH sample of the corpus: the
    ``n_centroids`` vectors with the smallest md5("ivf|" + id) — invariant
    to data order and partitioning (unlike a head-by-id placeholder, whose
    recall silently depends on row order), and computed as a distributed
    top-K (TakeOrderedAndProject: map-side partial top-K, no full sort).

    Plan shape: the k x dim codebook is collected once and folded into
    plan LITERALS (the with_lsh_bucket pattern), so cell assignment of the
    N-row corpus is a narrow argmax expression — zero Exchange (the old
    broadcast-crossjoin + row_number formulation shuffled N x k rows on
    vec_id). Query probing slices the same literal score array to its top
    ``n_probe`` cells. The only shuffles left are the cell equi-join
    against the broadcast probes and the final per-query top-k window over
    probed candidates — both bounded. Recall < 1 by construction;
    cosine_topk is the exact baseline.
    """
    if centroids is None:
        centroids = _hash_sample(vectors, "ivf|", n_centroids, id_col, vec_col)
    # one collect of the k-row codebook (the distributed top-K / training
    # job runs exactly once, and nothing is left persisted behind)
    cents = _codebook_rows(centroids)
    assigned = (
        _with_cent_scores(vectors, vec_col, cents)
        .select(
            id_col,
            vec_col,
            _argmax_score(F.col("_sc"))["cent_id"].alias("cent_id"),
        )
    )
    probes = (
        _with_cent_scores(queries, query_vec, cents)
        .select(
            query_id,
            query_vec,
            F.explode(
                F.transform(
                    F.slice(_desc_sort(F.col("_sc")), 1, n_probe),
                    lambda s: s["cent_id"],
                )
            ).alias("cent_id"),
        )
    )
    joined = assigned.join(F.broadcast(probes), "cent_id")
    sim = _cosine(F.col(vec_col), F.col(query_vec))
    scored = joined.select(F.col(query_id), F.col(id_col), sim.cast("double").alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    exact: bool = False,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine — the semantic-dedup mode
    (exact/minhash/simhash cover surface text; this catches paraphrases).

    ``exact=True``: all unordered pairs (id_a < id_b) scored — O(N^2),
    the oracle-verifiable baseline for small corpora and recall tests.

    ``exact=False`` (the 100 TB path): multi-table random-hyperplane LSH —
    vectors colliding in ANY of ``n_tables`` sign-buckets become
    candidates (union of T bucket equi-self-joins, never all-pairs), then
    the exact cosine filter keeps pairs >= threshold. Per-table collision
    probability for angle theta is (1 - theta/pi)^n_planes; recall is
    1 - (1 - p)^n_tables, tuned by (n_planes, n_tables).

    Output: (id_a, id_b, cosine) with id_a < id_b.
    """
    ida, idb = F.col(id_col + "_a"), F.col(id_col + "_b")
    if exact:
        a = vectors.select(F.col(id_col).alias(id_col + "_a"), F.col(vec_col).alias("_va"))
        b = vectors.select(F.col(id_col).alias(id_col + "_b"), F.col(vec_col).alias("_vb"))
        cand = a.crossJoin(b).where(ida < idb)
    else:
        parts = []
        for t in range(n_tables):
            v = with_lsh_bucket(vectors, vec_col, dim, n_planes, seed=17 + t)
            a = v.select(F.col(id_col).alias(id_col + "_a"), F.col(vec_col).alias("_va"), "bucket")
            b = v.select(F.col(id_col).alias(id_col + "_b"), F.col(vec_col).alias("_vb"), "bucket")
            parts.append(a.join(b, "bucket").where(ida < idb).drop("bucket"))
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        cand = cand.dropDuplicates([id_col + "_a", id_col + "_b"])
    sim = _cosine(F.col("_va"), F.col("_vb"))
    return (
        cand.withColumn("cosine", sim.cast("double"))
        .where(F.col("cosine") >= threshold)
        .select(id_col + "_a", id_col + "_b", F.round("cosine", 6).alias("cosine"))
    )


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Recall < 1 by construction (bucket boundary misses); the exact
    brute-force path is the correctness baseline for recall measurement.
    """
    v = with_lsh_bucket(vectors, vec_col, dim, n_planes)
    q = with_lsh_bucket(queries, query_vec, dim, n_planes)
    joined = v.join(F.broadcast(q), "bucket")
    sim = _cosine(F.col(vec_col), F.col(query_vec))
    scored = joined.select(F.col(query_id), F.col(id_col), sim.cast("double").alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )



def _hash_sample(vectors, tag, k, id_col, vec_col):
    """Deterministic hash-sampled codebook: the ``k`` vectors with the
    smallest md5(tag + id), as (cent_id, cent_vec) in md5 order — data-
    order- and partitioning-invariant, a distributed top-K. The tags:
    ``ivf|`` the IVF coarse cells, ``km|`` the k-means seeds, ``pq|``
    the PQ codewords."""
    return (
        vectors.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("cent_vec"),
            F.md5(F.concat(F.lit(tag), F.col(id_col).cast("string"))).alias("_h"),
        )
        .orderBy("_h")
        .limit(k)
        .drop("_h")
    )


def kmeans_assign(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | list | None = None,
) -> DataFrame:
    """One k-means assignment step over the corpus: each vector labelled
    with its highest-cosine centroid (spherical k-means; ties broken by
    centroid id). With no ``centroids`` argument, seeds are the k vectors
    with the smallest md5("km|" + id) — the same data-order-invariant
    hash sample as ivf_topk's codebook, so the step is deterministic end
    to end and engine-portable (DuckDB replays it bit-for-bit).
    ``centroids`` may be a (cent_id, cent_vec) DataFrame or a collected
    list of (cent_id, vec) pairs.

    Plan shape: the k x dim codebook is collected once (k rows) and folded
    into plan literals; each corpus row evaluates k fixed-order cosines
    and an aggregate-fold argmax on (cosine desc, cent_id asc) — a single
    NARROW projection. Genuinely shuffle-free: no join, no window, zero
    Exchange between the scan and the assignment (asserted by
    tests/test_plans.py), which is what lets Lloyd iterations scale
    linearly. The previous formulation (broadcast cross join + row_number
    over vec_id) shuffled N x k rows per step.

    Output: (vec_id, cluster_id, cosine) — cosine to the winning centroid,
    rounded to 6dp like every float the engine emits.
    """
    if centroids is None:
        centroids = _hash_sample(vectors, "km|", k, id_col, vec_col)
    cents = _codebook_rows(centroids)
    best = _argmax_score(F.col("_sc"))
    return _with_cent_scores(vectors, vec_col, cents).select(
        id_col,
        best["cent_id"].alias("cluster_id"),
        F.round(best["cs"], 6).alias("cosine"),
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means with ``iters`` Lloyd updates. Each update is a
    distributed posexplode + groupBy(cluster, dim) mean — one bounded
    shuffle on a (k x dim)-cardinality key — after which the tiny k x dim
    centroid table is collected to the driver and re-broadcast as plan
    literals for the next assignment (the standard Spark k-means shape:
    per-iteration driver traffic is O(k*dim), independent of corpus size).
    Means over float rows are NOT cross-engine bit-stable, so this path is
    pytest-verified (inertia monotonicity, determinism across runs at
    fixed partitioning) rather than oracle-hashed; kmeans_assign is the
    hash-exact single step.
    """
    # one seed collect feeds both the first assignment and the
    # keep-old-centroid fallback (clusters that lose every member keep
    # their previous centroid instead of silently shrinking k mid-run)
    seed_rows = _codebook_rows(_hash_sample(vectors, "km|", k, id_col, vec_col))
    assigned = kmeans_assign(vectors, k=k, id_col=id_col, vec_col=vec_col, centroids=seed_rows)
    prev = {int(cid): vec for cid, vec in seed_rows}
    for _ in range(iters):
        new_cents = (
            vectors.join(assigned.select(id_col, "cluster_id"), id_col)
            .select("cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                F.col("cluster_id").alias("cent_id"),
                F.transform("dm", lambda s: s["m"]).alias("cent_vec"),
            )
        )
        cur = {
            int(r["cent_id"]): [float(x) for x in r["cent_vec"]]
            for r in new_cents.collect()
        }
        prev = {cid: cur.get(cid, vec) for cid, vec in prev.items()}
        assigned = kmeans_assign(
            vectors, k=k, id_col=id_col, vec_col=vec_col, centroids=sorted(prev.items())
        )
    return assigned


def semdedup(
    vectors: DataFrame,
    k: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | list | None = None,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering then within-cluster cosine pruning.
    Surface-text dedup (exact/minhash/simhash) misses paraphrases; this
    catches them without the O(N^2) all-pairs scan — pairs are only
    scored INSIDE a k-means cluster.

    Keeper rule (deterministic, engine-portable): a vector is a duplicate
    iff some SMALLER-id member of its cluster has cosine >= threshold —
    the same min-id-survivor convention as exact_dedup, replayable in SQL
    (the paper keeps the member farthest from the centroid; min-id is
    order-free and needs no float tie-break).

    Plan shape: assignment is the kmeans_assign narrow literal-codebook
    argmax (zero Exchange, carrying the vector through); cluster sizes
    are a k-row broadcast (k is bounded by the codebook, never by N);
    pairing is a self-equi-join on cluster_id. At 100 TB the paper's
    regime applies: k ~ sqrt(N) keeps clusters ~sqrt(N) so the
    within-cluster quadratic term is ~N total; clusters above
    ``max_cluster`` (degenerate — e.g. all-zero embeddings) are exempted
    from pairing (members kept, flagged) rather than allowed to build a
    quadratic bucket, the minhash max_bucket convention.

    Output: (vec_id, cluster_id, keep, dup_of, dup_cosine) — dup_of is
    the smallest qualifying smaller-id neighbour, dup_cosine its cosine
    (6dp), both NULL for keepers.
    """
    if centroids is None:
        centroids = _hash_sample(vectors, "km|", k, id_col, vec_col)
    cents = _codebook_rows(centroids)
    best = _argmax_score(F.col("_sc"))
    # One explicit exchange on cluster_id right after the assignment: the
    # literal-codebook argmax is a large interpreted higher-order-function
    # expression, and every downstream consumer (sizes, both pairing
    # sides, the keeper frame) re-derives this subtree — without the
    # exchange the plan evaluated the argmax once PER CONSUMER (6 scans
    # of the corpus, ~6x the assignment cost). With it, ReuseExchange
    # collapses all consumers onto a single computation, and the pairing
    # join's cluster_id partitioning is established once (guide 2.4).
    v = (
        _with_cent_scores(vectors, vec_col, cents)
        .select(
            F.col(id_col),
            F.col(vec_col),
            # per-row norm computed once here (inside the single exchanged
            # subtree) instead of twice per PAIR downstream: the pair
            # cosine is dot/(norm_a*norm_b), so hoisting the norms cuts
            # the dominant per-pair interpreted fold work 3x while the
            # float math (same product, same division) stays bit-identical
            _norm(F.col(vec_col)).alias("_nv"),
            best["cent_id"].alias("cluster_id"),
        )
        # vacuously true (the argmax fold always yields a literal cent_id)
        # but stated explicitly so the pairing join's inferred
        # isnotnull(cluster_id) is already present below the exchange:
        # otherwise pushdown rewrites only SOME consumer subtrees and the
        # canonical mismatch defeats ReuseExchange
        .where(F.col("cluster_id").isNotNull())
        .repartition("cluster_id")
    )
    # cluster size via a window over the exchange's own partitioning: no
    # extra shuffle, and no second copy of the assignment subtree (the
    # previous groupBy+broadcast-join shape re-derived it)
    vs = v.withColumn(
        "_csize", F.count("*").over(Window.partitionBy("cluster_id"))
    )

    ida, idb = F.col(id_col + "_a"), F.col(id_col + "_b")
    pairable = F.col("_csize") <= F.lit(max_cluster)
    a = vs.where(pairable).select(
        "cluster_id",
        F.col(id_col).alias(id_col + "_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nv").alias("_na"),
    )
    b = vs.where(pairable).select(
        "cluster_id",
        F.col(id_col).alias(id_col + "_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nv").alias("_nb"),
    )
    pair_cos = _safe_div(
        _dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")
    )
    dups = (
        a.join(b, "cluster_id")
        .where(ida < idb)
        .withColumn("_cos", pair_cos.cast("double"))
        .where(F.col("_cos") >= F.lit(threshold))
        .groupBy(idb)
        .agg(
            F.min(ida).alias("dup_of"),
            F.min_by("_cos", ida).alias("_dup_cos"),
        )
    )
    return (
        v.select(id_col, "cluster_id")
        .join(dups, F.col(id_col) == idb, "left")
        .select(
            id_col,
            "cluster_id",
            F.col("dup_of").isNull().cast("int").alias("keep"),
            "dup_of",
            F.round("_dup_cos", 6).alias("dup_cosine"),
        )
    )


def _pq_sample_codebooks(
    vectors: DataFrame, m: int, k: int, id_col: str, vec_col: str
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks from a hash sample of the corpus: the
    ``k`` vectors with the smallest md5("pq|" + id) (data-order- and
    partitioning-invariant, computed as a distributed top-K), each split
    into ``m`` contiguous subvectors. codebooks[s][j] is subspace ``s``'s
    j-th codeword, with j the 0-based rank in md5 order — an index both
    engines can replay exactly (DuckDB: ROW_NUMBER() OVER the same md5
    ordering). Production would train these with kmeans_lloyd per
    subspace and pass them via ``codebooks``; the plan shape is identical
    either way."""
    rows = _hash_sample(vectors, "pq|", k, id_col, vec_col).collect()
    dim = len(rows[0]["cent_vec"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(x) for x in r["cent_vec"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def _pq_dist_sql(sub_col: str, codeword: list[float]) -> str:
    """Squared L2 distance of `sub_col` (array<double> column name) to a
    literal codeword, as a strict sequential left fold — bit-identical to
    the DuckDB oracle's list_reduce over the same index order."""

    def _d(x: float) -> str:
        return f"CAST('{repr(float(x))}' AS DOUBLE)"

    arr = "array(" + ", ".join(_d(x) for x in codeword) + ")"
    return (
        f"aggregate(zip_with({sub_col}, {arr}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


_PQ_ARGMIN = (
    "aggregate(slice({a}, 2, {k1}), element_at({a}, 1), "
    "(acc, s) -> IF(s.d < acc.d OR (s.d = acc.d AND s.cw < acc.cw), s, acc))"
)


def _with_pq_struct(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]], prefix: str
) -> DataFrame:
    """Attach per-subspace argmin structs ``{prefix}{s}`` = (d, cw): the
    squared-L2-nearest codeword of the row's s-th subvector. Built the
    _with_cent_scores way: each distance array is ONE parsed F.expr (the
    Column-API equivalent costs a py4j round-trip per node), materialized
    as its own column so the argmin fold doesn't re-evaluate k distances
    (higher-order exprs are CodegenFallback with no CSE), and the whole
    thing is a chain of narrow projections — zero shuffle, zero join
    between the scan and the codes."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    df = df.withColumn("_pqv", F.col(vec_col).cast("array<double>"))
    for s in range(m):
        df = df.withColumn(f"_pqs{s}", F.slice("_pqv", s * sub + 1, sub))
        entries = ", ".join(
            f"named_struct('d', {_pq_dist_sql(f'_pqs{s}', cw)}, 'cw', {j})"
            for j, cw in enumerate(codebooks[s])
        )
        df = df.withColumn(f"_pqd{s}", F.expr(f"array({entries})"))
        df = df.withColumn(
            f"{prefix}{s}", F.expr(_PQ_ARGMIN.format(a=f"_pqd{s}", k1=k - 1))
        )
    return df.drop("_pqv", *[f"_pqs{s}" for s in range(m)], *[f"_pqd{s}" for s in range(m)])


def pq_codes(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011): compress each
    vector to ``m`` codebook indices (one per contiguous subspace, k
    codewords each) — the memory layer real ANN systems put UNDER the IVF
    coarse quantizer at corpus scale. At 100 TB of float32x64 embeddings,
    raw vectors are 256 B/row; m=4 x k=16 codes are 4 B/row (64x), which
    is the difference between an index that fits in cluster RAM and one
    that doesn't. Reference scope analogue: the engine's ANN stack
    (ivf_topk / lsh_bucket_topk) gains its compressed serving path.

    Plan shape: codebooks are plan literals (hash-sampled like ivf_topk's
    centroids unless provided); assignment is a chain of narrow
    projections per subspace — argmin over k fixed-order squared-L2
    distances, ties to the smaller codeword index — with ZERO Exchange
    between scan and codes (plan-asserted in tests/test_plans.py). The
    reconstruction error column is the sum of the m subspace minima in
    fixed subspace order (engine-portable, 6dp).

    Output: (vec_id, code0..code{m-1} int, recon_err double 6dp).
    """
    if codebooks is None:
        codebooks = _pq_sample_codebooks(vectors, m, k, id_col, vec_col)
    out = _with_pq_struct(vectors, vec_col, codebooks, "_pqm")
    err = None
    cols = [F.col(id_col)]
    for s in range(len(codebooks)):
        cols.append(F.col(f"_pqm{s}")["cw"].cast("int").alias(f"code{s}"))
        d = F.col(f"_pqm{s}")["d"]
        err = d if err is None else err + d
    cols.append(F.round(err, 6).alias("recon_err"))
    return out.select(*cols)


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k: int = 16,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes: approximate L2
    top-k where the corpus side is touched ONLY through its m small int
    codes. Each query builds an m x k lookup table (squared L2 from its
    subvector to every codeword — plan-literal math on the tiny query
    side), and a candidate's approximate distance is m table lookups
    summed in subspace order. This is why PQ scales: at serving time the
    scan reads 4 B/vector instead of 256 B, and the per-row work is
    element_at, not dot products.

    Plan shape: codes via pq_codes' narrow projections; the query side
    (with its lookup-table array columns) is broadcast — the cosine_topk
    convention for a small probe batch — so the only wide operation is
    the final bounded per-query top-k window. Approximation error vs
    exact L2 is bounded by quantization error (pytest-verified recall);
    exactness is cosine_topk's job.

    Output: (query_id, vec_id, approx_dist double 6dp, rank).
    """
    if codebooks is None:
        codebooks = _pq_sample_codebooks(vectors, m, k, id_col, vec_col)
    codes = pq_codes(vectors, m, k, id_col, vec_col, codebooks)
    # per-subspace FULL distance tables on the query side (the argmin
    # struct isn't enough — ADC needs the distance to every codeword)
    mm = len(codebooks)
    sub = len(codebooks[0][0])
    q = queries.withColumn("_qv", F.col(query_vec).cast("array<double>"))
    for s in range(mm):
        q = q.withColumn(f"_qsv{s}", F.slice("_qv", s * sub + 1, sub))
        entries = ", ".join(_pq_dist_sql(f"_qsv{s}", cw) for cw in codebooks[s])
        q = q.withColumn(f"_qt{s}", F.expr(f"array({entries})"))
    q = q.select(query_id, *[f"_qt{s}" for s in range(mm)])
    joined = codes.crossJoin(F.broadcast(q))
    approx = None
    for s in range(mm):
        term = F.element_at(F.col(f"_qt{s}"), F.col(f"code{s}") + 1)
        approx = term if approx is None else approx + term
    w = Window.partitionBy(query_id).orderBy(F.col("_ad").asc(), F.col(id_col).asc())
    return (
        joined.withColumn("_ad", approx)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(query_id, id_col, F.round("_ad", 6).alias("approx_dist"), "rank")
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k: int = 16,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroids: DataFrame | list | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the full compressed ANN serving stack — IVF's coarse
    quantizer prunes the scan to ``n_probe`` cells, PQ's asymmetric
    distance ranks the survivors through their int codes (the FAISS
    IndexIVFPQ architecture with by_residual=False: codes quantize the
    RAW vectors, not per-cell residuals, which keeps one global codebook
    both engines replay exactly; residual encoding buys recall at the
    cost of per-cell codebooks and is the documented extension point).

    At 10^9+ vectors this is the only shape that works: the inverted
    lists bound the candidates (n_probe/n_centroids of the corpus) and
    ADC reads 4 B of codes per candidate instead of 256 B of floats —
    the index fits in cluster RAM where raw vectors cannot.

    Plan shape: ONE pass over the corpus scan computes both the coarse
    cell (literal-codebook cosine argmax, the ivf_topk expression) and
    the m PQ codes (literal-codebook L2 argmin folds) — a chain of
    narrow projections, zero Exchange (plan-asserted). The probe side
    (top-n_probe cells + m x k lookup tables per query) is broadcast;
    the only wide ops are the bounded cell equi-join and the final
    per-query top-k window. Recall < 1 twice over (cell pruning +
    quantization); cosine_topk is the exact baseline, pytest checks
    recall against it.

    Output: (query_id, vec_id, approx_dist double 6dp, rank).
    """
    if centroids is None:
        centroids = _hash_sample(vectors, "ivf|", n_centroids, id_col, vec_col)
    if codebooks is None:
        codebooks = _pq_sample_codebooks(vectors, m, k, id_col, vec_col)
    cents = _codebook_rows(centroids)
    mm = len(codebooks)
    sub = len(codebooks[0][0])

    # corpus side: coarse cell + PQ codes in one narrow projection chain
    assigned = _with_pq_struct(
        _with_cent_scores(vectors, vec_col, cents), vec_col, codebooks, "_pqm"
    ).select(
        id_col,
        _argmax_score(F.col("_sc"))["cent_id"].alias("cent_id"),
        *[F.col(f"_pqm{s}")["cw"].cast("int").alias(f"code{s}") for s in range(mm)],
    )

    # probe side: top-n_probe cells + full ADC lookup tables, broadcast
    q = _with_cent_scores(queries, query_vec, cents)
    q = q.withColumn("_qv", F.col(query_vec).cast("array<double>"))
    for s in range(mm):
        q = q.withColumn(f"_qsv{s}", F.slice("_qv", s * sub + 1, sub))
        entries = ", ".join(_pq_dist_sql(f"_qsv{s}", cw) for cw in codebooks[s])
        q = q.withColumn(f"_qt{s}", F.expr(f"array({entries})"))
    probes = q.select(
        query_id,
        *[f"_qt{s}" for s in range(mm)],
        F.explode(
            F.transform(
                F.slice(_desc_sort(F.col("_sc")), 1, n_probe),
                lambda s: s["cent_id"],
            )
        ).alias("cent_id"),
    )

    joined = assigned.join(F.broadcast(probes), "cent_id")
    approx = None
    for s in range(mm):
        term = F.element_at(F.col(f"_qt{s}"), F.col(f"code{s}") + 1)
        approx = term if approx is None else approx + term
    w = Window.partitionBy(query_id).orderBy(F.col("_ad").asc(), F.col(id_col).asc())
    return (
        joined.withColumn("_ad", approx)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(query_id, id_col, F.round("_ad", 6).alias("approx_dist"), "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: float = 60.0,
    topk: int = 10,
    query_id: str = "query_id",
    item_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    the standard hybrid-retrieval combiner (Elasticsearch/OpenSearch
    default for BM25 + dense-vector search):

        ``score(q, d) = sum_i 1 / (k + rank_i(q, d))``

    over the input ranked lists, items missing from a list contribute 0.
    Rank-based, so it needs no score calibration between retrievers
    whose scales differ (BM25 vs cosine).

    Scale shape: each input is already a per-query top-k frame — at most
    ``queries x k`` rows regardless of corpus size — so fusion cost is
    bounded by the probe side, never the corpus. The frames are joined
    full-outer in LIST ORDER on (query, item) and the score is the
    FIXED-ORDER sum ``term_0 + ... + term_{n-1}`` with
    ``term_i = coalesce(1/(k + rank_i), 0.0)`` — float addition order is
    structural, so the DuckDB oracle replays the fused score
    bit-for-bit. Final ranking: fused score desc, item id asc.

    Output: (query_id, item_col, rrf_score double 6dp, rank).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = None
    for i, r in enumerate(rankings):
        side = r.select(
            F.col(query_id), F.col(item_col), F.col(rank_col).cast("long").alias(f"_r{i}")
        )
        fused = side if fused is None else fused.join(
            side, [query_id, item_col], "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"_r{i}").cast("double")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    w = Window.partitionBy(query_id).orderBy(F.desc("_s"), F.asc(item_col))
    return (
        fused.withColumn("_s", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            query_id,
            item_col,
            F.round("_s", 6).alias("rrf_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def retrieval_metrics(
    result: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    item_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """ANN quality evaluation against an exact baseline — the operator a
    100 TB deployment runs CONTINUOUSLY on sampled queries, because every
    approximate index (LSH / IVF / PQ) trades recall for scan cost and
    that trade must be measured, not assumed:

        recall_at_k  |result_topk ∩ truth_topk| / |truth_topk|
        rr_at_k      1 / (result rank of truth's #1 item), 0 if absent
                     (mean over queries = MRR@k)

    Both sides are per-query top-k frames, so cost is bounded by
    queries x k regardless of corpus size: one equi-join for the
    intersection count, one for the truth-top-1 lookup, one groupBy.
    Exact small-integer ratios — the oracle replays them exactly.

    Output: (query_id, n_truth long, n_hit long, recall_at_k double,
    rr_at_k double).
    """
    res = result.where(F.col(rank_col) <= k).select(
        F.col(query_id), F.col(item_col), F.col(rank_col).cast("long").alias("_rr")
    )
    tru = truth.where(F.col(rank_col) <= k).select(
        F.col(query_id), F.col(item_col), F.col(rank_col).cast("long").alias("_tr")
    )
    hits = tru.join(res, [query_id, item_col], "left")
    per_q = hits.groupBy(query_id).agg(
        F.count("*").cast("long").alias("n_truth"),
        F.count("_rr").cast("long").alias("n_hit"),
        # truth's #1 item: its reciprocal rank in the result (0 if missed)
        F.max(
            F.when(
                (F.col("_tr") == 1) & F.col("_rr").isNotNull(),
                F.lit(1.0) / F.col("_rr").cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("rr_at_k"),
    )
    return per_q.select(
        query_id,
        "n_truth",
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("n_truth").cast("double"), 6).alias(
            "recall_at_k"
        ),
        F.round("rr_at_k", 6).alias("rr_at_k"),
    )


def binary_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Sign (binary) quantization of an embedding column: bit i of the
    code is 1 iff ``vec[i] > 0`` — the 1-bit/dim compression used by
    binary-hashing ANN (Charikar, STOC 2002 sign-random-projection with
    the identity projection; also the 32x "binary quantization" mode of
    production vector stores). A 64-dim float32 vector becomes two
    32-bit sign words, so a 10^9-vector corpus shrinks from ~256 GB of
    floats to 8 GB of codes — small enough to broadcast-probe or scan at
    memory bandwidth.

    The packing is a pure per-row JVM fold (aggregate over a literal
    index sequence, shiftleft/IF — integer-exact, no float rounding), so
    the plan is narrow: zero shuffles, codegen throughout. Bits are
    packed little-endian within each 32-dim half into ``code_lo``
    (dims [0, 32)) and ``code_hi`` (dims [32, 64)); two half-words keep
    every value far from BIGINT sign-bit overflow, which ANSI mode would
    turn into a runtime error.

    Output: input columns + (code_lo long, code_hi long).
    """
    if dim > 64:
        raise ValueError("binary_quantize packs at most 64 dims (two 32-bit words)")
    lo_hi = []
    for word, (a, b) in enumerate(((0, min(dim, 32)), (32, dim))):
        bits = " + ".join(
            f"IF(element_at({vec_col}, {i + 1}) > 0D, {1 << (i - a)}L, 0L)"
            for i in range(a, b)
        ) or "0L"
        lo_hi.append(F.expr(bits).alias("code_lo" if word == 0 else "code_hi"))
    return df.select("*", *lo_hi)


def hamming_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    dim: int = 64,
) -> DataFrame:
    """Exact top-k under Hamming distance between sign codes — the scan
    stage of binary-quantized ANN. Both sides are packed with
    ``binary_quantize``; the distance is
    ``bit_count(lo ^ qlo) + bit_count(hi ^ qhi)`` — two XORs and two
    popcounts per candidate, integer-exact (the whole query is
    float-free after packing, so the oracle replays it bit-for-bit).

    Plan: broadcast the packed query set (queries x 16 bytes), narrow
    scan over the packed corpus, per-query bounded top-k window. At
    10^9 vectors the scan touches 8 GB instead of 256 GB and the
    popcount is one instruction/word — this is the memory-bandwidth
    baseline the multi-probe indexes (IVF/PQ) are judged against.

    Ties (common: Hamming is integer-valued on [0, dim]) break by
    ``id_col`` ascending for determinism.

    Output: (query_id, vec_id, hamming int, rank int).
    """
    v = binary_quantize(vectors, vec_col, id_col, dim).select(
        id_col, "code_lo", "code_hi"
    )
    q = binary_quantize(
        queries.withColumnRenamed(query_vec, vec_col), vec_col, query_id, dim
    ).select(
        query_id,
        F.col("code_lo").alias("_qlo"),
        F.col("code_hi").alias("_qhi"),
    )
    joined = v.crossJoin(F.broadcast(q))
    dist = F.bit_count(
        F.col("code_lo").bitwiseXOR(F.col("_qlo"))
    ) + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("_qhi")))
    w = Window.partitionBy(query_id).orderBy(F.asc("_hd"), F.asc(id_col))
    return (
        joined.withColumn("_hd", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id,
            id_col,
            F.col("_hd").cast("int").alias("hamming"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """One-pass distributed covariance of an embedding column — the
    statistics pass behind PCA / whitening / Mahalanobis scoring of a
    corpus. The 100 TB shape: each Arrow batch contributes a dense
    ``X^T X`` Gram partial (one BLAS call), partials are emitted as
    ``d*(d+1)/2 + d`` rows PER PARTITION (dim 64 -> 2,080 rows), and a
    single tiny groupBy((i, j)) sums them — the shuffle moves
    ``partitions x d^2/2`` rows, independent of corpus size, and no
    row-level self-join or explode ever materializes the N x d element
    table (the naive SQL plan, which at 10^9 x 64 would shuffle 6.4e10
    rows).

    Returns the upper triangle (i <= j) with
    ``cov = sxy/n - (sx/n) * (sy/n)`` (population covariance; the
    expression shape is fixed so the oracle replays the same IEEE
    operation order on the exact partial sums).

    Output: (i int, j int, n long, cov double) — d*(d+1)/2 rows.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dim)

    def partials(batches):
        n = 0
        gram = np.zeros((dim, dim), dtype=np.float64)
        colsum = np.zeros(dim, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            n += x.shape[0]
            gram += x.T @ x
            colsum += x.sum(axis=0)
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "n_part": np.int64(n),
                "sxy": gram[iu],
                "sx": colsum[iu[0]],
                "sy": colsum[iu[1]],
            }
        )

    schema = (
        "i int, j int, n_part long, sxy double, sx double, sy double"
    )
    parts = df.select(vec_col).mapInPandas(partials, schema=schema)
    agg = parts.groupBy("i", "j").agg(
        F.sum("n_part").alias("n"),
        F.sum("sxy").alias("_sxy"),
        F.sum("sx").alias("_sx"),
        F.sum("sy").alias("_sy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n)
    return agg.select(
        "i",
        "j",
        F.col("n").cast("long").alias("n"),
        F.round(cov, 6).alias("cov"),
    )


def mine_hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training data:
    for each query, the k most-similar corpus vectors whose LABEL
    differs from the query's (and which are not the query itself) — the
    near-miss impostors that make embedding models actually learn
    (random negatives are trivially separable; the hard ones carry the
    gradient).

    This is the EXACT baseline, the same documented broadcast-crossJoin
    shape as cosine_topk (queries are the small side): score all, drop
    same-label and self, keep the bounded per-query top-k window. Ties
    break on ``id_col`` ascending for determinism, so the SQL oracle
    replays the ranking exactly (the cosine is a fixed-order fold over
    the vector elements in both engines). At corpus scale, mine from an
    ANN candidate pool instead: any of ivf_topk / ivfpq_topk /
    lsh_bucket_topk feeding ``filter_hard_negatives`` — the composition
    keeps the all-pairs scoring off the table entirely.

    Output: (query_id, vec_id, neg_label, cosine, rank).
    """
    joined = vectors.crossJoin(F.broadcast(queries))
    sim = _cosine(F.col(vec_col), F.col(query_vec))
    scored = joined.where(
        (F.col(label_col) != F.col(query_label))
        & (F.col(id_col) != F.col(query_id))
    ).select(
        F.col(query_id),
        F.col(id_col),
        F.col(label_col).alias("neg_label"),
        sim.cast("double").alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id, id_col, "neg_label", F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def filter_hard_negatives(
    candidates: DataFrame,
    labels: DataFrame,
    query_labels: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id: str = "query_id",
    score_col: str = "cosine",
) -> DataFrame:
    """The scale path of hard-negative mining: take an ANN candidate
    pool (any of ivf_topk / ivfpq_topk / lsh_bucket_topk / cosine_topk
    output — (query_id, vec_id, score, ...) rows, |queries| x k' of
    them), attach corpus labels and query labels, drop same-label and
    self pairs, and re-rank the survivors to the final top-k.

    Plan shape: the candidate pool is tiny relative to the corpus, so
    the label attachments are equi-joins with the pool as the build
    side, and the re-rank window is bounded by k' rows per query —
    nothing here ever touches the full corpus. Mine with k' > k so
    same-label candidates do not starve the output (a pool of 3-4x k
    is the usual rule).

    Output: (query_id, vec_id, neg_label, score_col, rank).
    """
    pool = (
        candidates.join(
            F.broadcast(labels.select(F.col(id_col), F.col(label_col))), id_col
        )
        .join(
            F.broadcast(
                query_labels.select(
                    F.col(query_id), F.col(label_col).alias("_qlabel")
                )
            ),
            query_id,
        )
        .where(
            (F.col(label_col) != F.col("_qlabel"))
            & (F.col(id_col) != F.col(query_id))
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        pool.select(
            query_id, id_col, F.col(label_col).alias("neg_label"), score_col
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _projection_expr(
    vec_col: str, weights: list, mean: list | None = None, scale: float | None = None
) -> str:
    """One output dimension of a literal-matrix projection as a parsed
    SQL string: a FIXED left-to-right chain of (x_i - m_i) * w_i terms.
    Parsed expressions, not py4j Column trees — the plan-cost rule from
    BASELINE.md round-3 (large literal trees built per-Column stall the
    driver); and the fixed chain is what lets the DuckDB oracle replay
    the projection bit-for-bit (both engines evaluate left-assoc)."""
    terms = []
    for i, w in enumerate(weights, start=1):
        x = f"element_at({vec_col}, {i})"
        if mean is not None:
            x = f"({x} - {mean[i - 1]!r})"
        terms.append(f"{x} * {float(w)!r}")
    expr = chain_sql(terms)
    if scale is not None:
        expr = f"({expr}) * {float(scale)!r}"
    return expr


def random_project(
    df: DataFrame,
    dim: int,
    out_dim: int = 8,
    seed: int = 29,
    vec_col: str = "embedding",
    prefix: str = "p",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims: a
    seeded Gaussian matrix (scaled 1/sqrt(out_dim), the JL convention
    that preserves expected norms) folded in as LITERALS — the
    dimensionality reducer in front of ANN indexing when the fitted-PCA
    pass is not worth a pipeline stage.

    Plan shape: a pure narrow map (zero shuffles, zero joins, no
    Python) — each output dim is one parsed fixed-order expression
    chain, so the projection is deterministic, partition-invariant, and
    SQL-oracle-replayable (the oracle regenerates the identical seeded
    matrix: PCG64 is platform-independent, and repr() round-trips each
    double exactly — the q_lsh_topk literal-hyperplane contract).

    Adds: ``{prefix}1 .. {prefix}{out_dim}`` double columns.
    """
    planes = np.random.default_rng(seed).standard_normal((out_dim, dim))
    s = 1.0 / float(np.sqrt(out_dim))
    out = df
    for j in range(out_dim):
        out = out.withColumn(
            f"{prefix}{j + 1}",
            F.expr(_projection_expr(vec_col, planes[j].tolist(), scale=s)),
        )
    return out


def fit_pca(
    vectors: DataFrame,
    dim: int,
    k: int = 8,
    vec_col: str = "embedding",
) -> tuple:
    """Fit a PCA basis from the one-pass distributed covariance
    (embedding_covariance) — the only driver-side work is the d x d
    eigendecomposition (64x64 here; microseconds) plus the d element
    means from ONE map-side aggregate fold. Eigenvector sign is fixed
    by making each component's largest-|coefficient| entry positive, so
    the basis is deterministic end to end (eigh is deterministic for a
    fixed symmetric input; the covariance is hash-verified exact).

    Returns (mean: list[d], components: list[k][d] — descending
    eigenvalue order, explained: list[k] eigenvalues).
    """
    sums = vectors.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"_s{i}")
            for i in range(dim)
        ],
    ).collect()[0]
    n = sums["_n"]
    mean = [float(sums[f"_s{i}"]) / n for i in range(dim)]
    cov_rows = embedding_covariance(vectors, vec_col=vec_col, dim=dim).collect()
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov"]
        C[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v.tolist())
    return mean, comps, [float(vals[i]) for i in order]


def pca_project(
    df: DataFrame,
    mean: list,
    components: list,
    vec_col: str = "embedding",
    prefix: str = "pc",
) -> DataFrame:
    """Project onto a fitted PCA basis (fit_pca output): center on the
    literal mean, then the same fixed-order literal-chain projection as
    random_project — a pure narrow map sharing its determinism and
    oracle-replay contract. Adds ``{prefix}1..{prefix}k`` doubles."""
    out = df
    for j, comp in enumerate(components):
        out = out.withColumn(
            f"{prefix}{j + 1}",
            F.expr(_projection_expr(vec_col, list(comp), mean=list(mean))),
        )
    return out


def mahalanobis_score(
    df: DataFrame,
    mean: list,
    components: list,
    eigvals: list,
    vec_col: str = "embedding",
    out: str = "maha2",
    min_eigval: float = 1e-9,
) -> DataFrame:
    """Squared Mahalanobis distance of each embedding from the fitted
    distribution (fit_pca output) — the standard embedding OUTLIER score
    a curation pipeline thresholds to drop corrupt/off-manifold vectors:

        d^2 = sum_j ((x - m) . v_j)^2 / lambda_j

    over the fitted components (all d for the exact distance; the top-k
    truncation scores distance within the retained subspace). Components
    with eigenvalue <= ``min_eigval`` are skipped (a degenerate axis
    would divide by ~0 and dominate the score with float noise).

    Same zero-shuffle literal-chain codepath as pca_project: each
    projection is one parsed fixed-order expression, the score one more
    fixed chain of squares — narrow map, deterministic, no Python.

    Adds: ``out`` double column.
    """
    proj_exprs = []
    for comp, lam in zip(components, eigvals):
        if lam <= min_eigval:
            continue
        p = _projection_expr(vec_col, list(comp), mean=list(mean))
        proj_exprs.append(f"(({p}) * ({p}) / {float(lam)!r})")
    if not proj_exprs:
        return df.withColumn(out, F.lit(None).cast("double"))
    return df.withColumn(out, F.expr(chain_sql(proj_exprs)))


def embedding_stats(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Per-vector data-quality screen for an embedding column — the
    cheap narrow map a pipeline runs BEFORE indexing 10^9 vectors to
    quarantine corrupt rows (all-zero vectors from a failed encoder
    batch, NaN/Inf from an fp16 overflow, wrong dimensionality from a
    version mix):

        dim          actual array length
        norm         Euclidean norm (fixed-order fold, oracle-exact)
        n_zero       exactly-zero elements
        n_nonfinite  NaN, +/-Inf, or NULL elements
        ok           dim matches (when ``dim`` given), norm finite and
                     positive, zero non-finite elements

    Pure column expressions, zero shuffles. The norm fold is the same
    left-to-right aggregate every cosine in the engine uses, so the
    DuckDB oracle replays it bit-for-bit.

    Adds: dim int, norm double, n_zero int, n_nonfinite int, ok boolean.
    """
    v = F.col(vec_col)
    sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, y: acc + y
    )
    n_zero = F.size(F.filter(v, lambda x: x == F.lit(0.0)))
    # NULL elements count as corrupt too: Arrow interchange maps a NaN
    # inside a list to NULL, and a NULL poisons the norm fold anyway
    n_nonfin = F.size(
        F.filter(
            v,
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
    )
    norm = F.sqrt(sq)
    out = (
        df.withColumn("dim", F.size(v).cast("int"))
        .withColumn("n_nonfinite", n_nonfin.cast("int"))
        .withColumn(
            "norm",
            F.when(F.col("n_nonfinite") == 0, norm),
        )
        .withColumn("n_zero", n_zero.cast("int"))
    )
    ok = (F.col("n_nonfinite") == 0) & F.col("norm").isNotNull() & (F.col("norm") > 0)
    if dim is not None:
        ok = ok & (F.col("dim") == int(dim))
    return out.withColumn("ok", ok)


def mmr_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the candidate maximizing

        score = lam * rel(d) - (1 - lam) * max_{s in S} cos(d, s)

    so near-duplicate hits don't crowd the result list — the reranker a
    retrieval pipeline runs after exact/ANN top-N.

    Scale + determinism shape: relevance and the candidate POOL come
    from the distributed exact cosine pass (``cosine_topk`` unrounded,
    broadcast queries, bounded per-query window); only the <= ``pool``
    surviving candidates per query enter a grouped-map kernel
    (one Arrow batch per query — the §2.14 grouped-map-only contract,
    never per-row Python). The greedy selection is a pure function of
    (score, id): every dot product is a strict sequential left fold
    (identical to F.aggregate and DuckDB's list_dot_product, the
    engine-wide parity idiom), ties break on the smaller id, and the
    first pick scores with max-sim 0.0 — so the SQL oracle replays
    picks AND scores bit-for-bit with unrolled argmax steps.

    Output: (query_id, vec_id, mmr_rank int, rel double, score double).
    """
    import math

    import pandas as pd

    mu = 1.0 - lam
    cand = cosine_topk(
        vectors, queries, k=pool, id_col=id_col, vec_col=vec_col,
        query_id=query_id, query_vec=query_vec, rounded=False,
    ).select(query_id, id_col, F.col("cosine").alias("rel"))
    cand = cand.join(
        vectors.select(F.col(id_col), F.col(vec_col).alias("_ev")), id_col
    )

    def _dotf(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def _cosf(a, b):
        return _dotf(a, b) / (math.sqrt(_dotf(a, a)) * math.sqrt(_dotf(b, b)))

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cands = [
            (int(r[id_col]), float(r["rel"]), [float(x) for x in r["_ev"]])
            for r in pdf.to_dict("records")
        ]
        qid = pdf[query_id].iloc[0]
        selected: list = []
        out = []
        while cands and len(selected) < k:
            best = None
            for vid, rel, v in cands:
                ms = max((_cosf(v, sv) for sv in selected), default=0.0)
                score = (lam * rel) - (mu * ms)
                if best is None or score > best[1] or (score == best[1] and vid < best[0]):
                    best = (vid, score, rel, v)
            vid, score, rel, v = best
            selected.append(v)
            out.append((qid, vid, len(selected), rel, score))
            cands = [c for c in cands if c[0] != vid]
        return pd.DataFrame(
            out, columns=[query_id, id_col, "mmr_rank", "rel", "score"]
        )

    schema = f"{query_id} long, {id_col} long, mmr_rank int, rel double, score double"
    return cand.groupBy(query_id).applyInPandas(_kernel, schema=schema)


def ndcg_at_k(
    result: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    item_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """nDCG@k of an ANN result list against the exact baseline with
    binary gains — the rank-POSITION-aware companion to
    retrieval_metrics (recall says how many truth items came back; nDCG
    says whether they came back near the top):

        DCG  = sum_i  hit_i * w_i,        w_i = 1 / log2(i + 1)
        iDCG = sum_{i <= min(k, n_truth)} w_i
        nDCG = DCG / iDCG

    Determinism: the discount weights are PRECOMPUTED driver-side and
    embedded as identical literals in the plan and in the SQL oracle, so
    neither engine evaluates a transcendental — DCG/iDCG are fixed-order
    chains of literal-times-indicator adds, bit-replayable. Cost is
    bounded by queries x k like retrieval_metrics: one equi-join, one
    groupBy.

    Output: (query_id, n_truth long, dcg double, idcg double, ndcg
    double).
    """
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    res = result.where(F.col(rank_col) <= k).select(
        F.col(query_id), F.col(item_col), F.col(rank_col).cast("int").alias("_rr")
    )
    tru = truth.where(F.col(rank_col) <= k).select(F.col(query_id), F.col(item_col))
    n_tru = tru.groupBy(query_id).agg(F.count("*").cast("long").alias("n_truth"))
    hits = res.join(
        tru.withColumn("_hit", F.lit(1)), [query_id, item_col], "left"
    )

    dcg_terms = [
        F.max(
            F.when((F.col("_rr") == i + 1) & (F.col("_hit") == 1), F.lit(w[i]))
        ).alias(f"_d{i}")
        for i in range(k)
    ]
    g = hits.groupBy(query_id).agg(*dcg_terms).join(n_tru, query_id)
    dcg = chain([F.coalesce(F.col(f"_d{i}"), F.lit(0.0)) for i in range(k)])
    idcg = chain(
        [
            F.when(F.col("n_truth") >= i + 1, F.lit(w[i])).otherwise(F.lit(0.0))
            for i in range(k)
        ]
    )
    return g.select(
        query_id,
        "n_truth",
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        (dcg / idcg).alias("ndcg"),
    )


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.9,
    k: int = 10,
    query_id: str = "query_id",
    item_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Truncated rank-biased overlap between two per-query rankings
    (Webber, Moffat & Zobel, TOIS 2010) — the top-weighted agreement
    score retrieval teams use to answer 'how differently do these two
    rankers order the SAME corpus?' (lexical vs dense, old index vs
    new, exact vs ANN), where Kendall/Spearman over-weight the tail:

        X_d  = |A[1..d] ∩ B[1..d]|          (prefix overlap)
        rbo  = (1 - p) * sum_{d=1..k} p^(d-1) * X_d / d

    p sets the top-weight (p=0.9 puts ~86% of the mass in the top 10);
    this is the TRUNCATED prefix-agreement sum over the available
    depths — lists shorter than d contribute their full prefix (the
    practical variant; the paper's extrapolated RBO_ext adds a
    residual this operator deliberately omits so the score stays an
    exact replayable sum).

    Scale + determinism: both inputs are already per-query top-k
    frames, so cost is bounded by queries x k^2 element comparisons
    after ONE query_id equi-join of two k-row-per-query aggregates —
    corpus size never appears. X_d is an exact integer (array_intersect
    of distinct ranked ids); the weights p^(d-1) are plan-time Python
    float literals and the sum is a FIXED left-associated k-term chain,
    so the SQL oracle embeds the identical literals and replays the
    score bit-for-bit.

    Output: (query_id, n_a long, n_b long, x_k long, overlap_k double
    = X_k / k, rbo double).
    """

    def _arr(df: DataFrame, name: str) -> DataFrame:
        return (
            df.where(F.col(rank_col) <= k)
            .groupBy(query_id)
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col(rank_col).cast("long").alias("_r"),
                                # item ids pass through in their NATIVE type
                                # (string UUIDs, longs, ...): the struct sort
                                # is decided by the unique per-query rank, and
                                # array_intersect only needs equality, so no
                                # lossy numeric cast happens here — callers
                                # that want canonical long ids (q_rbo) cast
                                # at the call site
                                F.col(item_col).alias("_i"),
                            )
                        )
                    ),
                    lambda s: s["_i"],
                ).alias(name)
            )
        )

    j = _arr(a, "_a").join(_arr(b, "_b"), query_id)
    for d in range(1, k + 1):
        j = j.withColumn(
            f"_x{d}",
            F.size(
                F.array_intersect(
                    F.slice("_a", 1, d), F.slice("_b", 1, d)
                )
            ).cast("long"),
        )
    acc = None
    for d in range(1, k + 1):
        term = (
            F.lit(p ** (d - 1))
            * F.col(f"_x{d}").cast("double")
            / F.lit(float(d))
        )
        acc = term if acc is None else acc + term
    return j.select(
        query_id,
        F.size("_a").cast("long").alias("n_a"),
        F.size("_b").cast("long").alias("n_b"),
        F.col(f"_x{k}").alias("x_k"),
        (F.col(f"_x{k}").cast("double") / F.lit(float(k))).alias("overlap_k"),
        (F.lit(1.0 - p) * acc).alias("rbo"),
    )


def dbscan_labels(
    vectors: DataFrame,
    threshold: float = 0.3,
    min_pts: int = 4,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """DBSCAN-style density classification of the embedding space
    (Ester et al. 1996) over the SAME multi-table hyperplane-LSH
    candidate graph as [[embedding_near_dup_pairs]]: a vector is
    ``core`` if it has >= ``min_pts`` candidate neighbors at cosine >=
    ``threshold``, ``border`` if it is not core but touches a core
    vector, ``noise`` otherwise. The curation read: core points are
    dense paraphrase clusters (dedup / downsample them), border points
    are cluster fringes, noise is the long tail worth KEEPING for
    diversity — the density complement to SemDeDup's centroid pruning.

    Cluster EXPANSION (the sequential flood-fill in classic DBSCAN) is
    deliberately out of scope: labels are a one-shot density
    classification; callers who need the components feed the core-core
    edges to [[dedup.connected_components_star]] — same split as
    minhash banding vs clustering.

    Scale: candidate generation is the near-dup module's bucketed
    union (never all-pairs); everything after is two degree
    aggregations and two broadcast-able semi-join-shaped lookups on
    the (much smaller) core set. Exact long counts; the only floats
    are the cosine gate shared with the gated near-dup path.

    Determinism: the LSH tables use the same literal seeded
    hyperplanes (seeds 17..17+n_tables-1) the SQL oracle replays, so
    candidate sets — and therefore labels — match bit-for-bit.

    ``pairs`` overrides candidate generation with an explicit
    (id_a, id_b) neighbor-pair frame — the exact-truth mode (feed
    ``embedding_near_dup_pairs(exact=True)`` for recall measurement)
    and the hand-graph unit-test seam; labeling semantics are
    identical either way.

    Output: one row per vector (id, n_neighbors long, label string).
    """
    if pairs is None:
        pairs = embedding_near_dup_pairs(
            vectors,
            threshold=threshold,
            exact=False,
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
            id_col=id_col,
            vec_col=vec_col,
        )
    ida, idb = id_col + "_a", id_col + "_b"
    sym = pairs.select(
        F.col(ida).alias("_v"), F.col(idb).alias("_n")
    ).unionByName(pairs.select(F.col(idb).alias("_v"), F.col(ida).alias("_n")))
    deg = sym.groupBy("_v").agg(F.count("*").cast("long").alias("n_neighbors"))
    base = (
        vectors.select(F.col(id_col))
        .join(deg.withColumnRenamed("_v", id_col), id_col, "left")
        .select(id_col, F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"))
    )
    core = base.where(F.col("n_neighbors") >= min_pts).select(
        F.col(id_col).alias("_n")
    )
    touches_core = (
        sym.join(core, "_n", "left_semi").select(F.col("_v").alias(id_col)).distinct()
        .withColumn("_tc", F.lit(1))
    )
    out = base.join(touches_core, id_col, "left").select(
        id_col,
        "n_neighbors",
        F.when(F.col("n_neighbors") >= min_pts, F.lit("core"))
        .when(F.col("_tc").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("label"),
    )
    return out


def err_at_k(
    result: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    item_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Expected Reciprocal Rank at k (Chapelle et al., CIKM 2009) — the
    cascade-model member of the ranking-metric battery beside
    [[ndcg_at_k]] (position-discount) and rank_biased_overlap
    (list agreement): models a user scanning top-to-bottom who STOPS at
    a satisfying result, so a relevant hit at rank 1 nearly zeroes the
    credit for everything below —

        R_i  = (2^g_i - 1) / 2^g_max          (stop probability)
        ERR  = sum_i (1/i) R_i prod_{j<i} (1 - R_j)

    Graded relevance from the exact baseline's own ordering: a
    retrieved item found at truth rank r gets g = k + 1 - r (truth's
    top item is most satisfying), a miss gets g = 0 — so ERR grades the
    ANN index by how quickly it surfaces what exact search ranks first.

    Determinism: the 2^g map is a driver-side literal CASE ladder (the
    [[ndcg_at_k]] precedent — no transcendentals in either engine); the
    per-rank stop probabilities pivot into k fixed columns and ERR is
    ONE unrolled left-associated chain with explicit cumulative-
    continuation products, replayed parenthesis-for-parenthesis in the
    SQL oracle. Cost: one equi-join bounded by queries x k, one
    groupBy.

    Output: (query_id, n_hits long, err double).
    """
    lits = {r: float(2 ** (k + 1 - r) - 1) / float(2**k) for r in range(1, k + 1)}
    res = result.where(F.col(rank_col) <= k).select(
        F.col(query_id), F.col(item_col), F.col(rank_col).cast("int").alias("_rr")
    )
    tru = truth.where(F.col(rank_col) <= k).select(
        F.col(query_id), F.col(item_col), F.col(rank_col).cast("int").alias("_tr")
    )
    j = res.join(tru, [query_id, item_col], "left")
    rel = F.lit(0.0)
    for r in range(k, 0, -1):
        rel = F.when(F.col("_tr") == r, F.lit(lits[r])).otherwise(rel)
    piv = j.groupBy(query_id).agg(
        F.count(F.when(F.col("_tr").isNotNull(), 1)).cast("long").alias("n_hits"),
        *[
            F.coalesce(
                F.max(F.when(F.col("_rr") == i, rel)), F.lit(0.0)
            ).alias(f"_r{i}")
            for i in range(1, k + 1)
        ],
    )
    err = F.col("_r1") * F.lit(1.0)
    cont = F.lit(1.0) - F.col("_r1")
    for i in range(2, k + 1):
        err = err + cont * F.col(f"_r{i}") * F.lit(1.0 / float(i))
        cont = cont * (F.lit(1.0) - F.col(f"_r{i}"))
    return piv.select(query_id, "n_hits", err.alias("err"))


def intra_list_diversity(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Intra-list diversity of each query's cosine top-k — the
    redundancy report for a retrieval stack ('are the k results k
    paraphrases?'), the measurement twin of [[mmr_topk]] (MMR trades
    relevance FOR this number; ILD just reports it):

        ILD(q) = (2 / k(k-1)) * sum_{i<j} (1 - cos(v_i, v_j))

    Determinism: the top-k lists come from [[cosine_topk]]'s
    deterministic (cosine desc, id asc) ranking; each pair distance is
    the fixed dot/norm chain and the per-query reduction is ``exprs.ordered_sums``
    by (rank_i, rank_j). Bit-replayable.

    Scale: the result-id set (|Q| * k rows) BROADCASTS onto the corpus
    scan to fetch vectors — one pass, no corpus shuffle; the pair join
    is per-query k x k on the tiny result table. Output: (query_id,
    n_pairs long, ild double — NULL when < 2 results), one row per
    query.
    """
    from pyspark.sql.functions import broadcast

    topk = cosine_topk(
        vectors, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id=query_id, query_vec=query_vec, rounded=False,
    ).select(query_id, id_col, "rank")
    withv = vectors.select(id_col, vec_col).join(broadcast(topk), id_col)
    a = withv.select(
        F.col(query_id).alias("_q"),
        F.col("rank").alias("_ri"),
        F.col(vec_col).alias("_vi"),
    )
    b = withv.select(
        F.col(query_id).alias("_q"),
        F.col("rank").alias("_rj"),
        F.col(vec_col).alias("_vj"),
    )
    pairs = a.join(b, "_q").where(F.col("_ri") < F.col("_rj"))
    dist = F.lit(1.0) - _cosine(F.col("_vi"), F.col("_vj")).cast("double")
    per = pairs.groupBy("_q").agg(
        F.count("*").cast("long").alias("n_pairs"),
        *ordered_sums(["_ri", "_rj"], _d=dist),
    )
    s = F.col("_d")
    return per.select(
        F.col("_q").alias(query_id),
        "n_pairs",
        F.when(
            F.col("n_pairs") > 0, s / F.col("n_pairs").cast("double")
        ).alias("ild"),
    )


def anisotropy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space anisotropy: the mean pairwise cosine between
    all distinct L2-normalized vectors, computed WITHOUT the n^2
    pair table via the sum-vector identity

        mean_cos = (||sum_i u_i||^2 - n) / (n (n - 1))

    (unit vectors make sum_i ||u_i||^2 = n exactly n, so the cross
    terms fall out of one corpus-sum). Ethayarajh (2019)'s measure:
    a well-spread embedding space sits near 0; a collapsed cone —
    the classic representation-degeneration failure that breaks
    cosine retrieval — pushes it toward 1. The one-number space
    screen beside the per-vector [[embedding_stats]].

    Determinism: per-dim sums are ``exprs.ordered_sums`` by id (exact
    replay); each u_i = x_i / norm_i with the norm its own dim-ordered
    fold; the final ``ordered_sums`` by dim squares the per-dim sums. Zero-norm
    and non-finite vectors are excluded (count reported). This is
    the EXACT baseline: the id-ordered fold state is corpus-sized
    per dim — at 10^12 rows run the covariance-style partial-sum
    path ([[embedding_covariance]]) and accept last-ulp drift.

    Output one row: (n long, n_dropped long, sum_norm_sq double,
    mean_cos double — NULL when n < 2).
    """
    ev = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("_id"), ev.alias("_v"))
    nsq = F.aggregate(
        F.col("_v"), F.lit(0.0), lambda a, x: a + x * x
    )
    bad = F.exists(
        F.col("_v"), lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    flagged = base.select("_id", "_v", (bad | (F.sqrt(nsq) == 0)).alias("_bad"),
                          F.sqrt(nsq).alias("_nm"))
    kept = flagged.where(~F.col("_bad"))
    u = F.transform(F.col("_v"), lambda x: x / F.col("_nm"))
    ex = kept.select(
        "_id", F.posexplode(u).alias("_d", "_x")
    )
    per_dim = ex.groupBy("_d").agg(*ordered_sums(["_id"], _s=F.col("_x")))
    tot = per_dim.agg(*ordered_sums(["_d"], sum_norm_sq=F.col("_s") * F.col("_s")))
    counts = flagged.agg(
        F.count(F.when(~F.col("_bad"), 1)).cast("long").alias("n"),
        F.count(F.when(F.col("_bad"), 1)).cast("long").alias("n_dropped"),
    )
    g = counts.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    return g.select(
        "n",
        "n_dropped",
        "sum_norm_sq",
        F.when(
            F.col("n") >= 2,
            (F.col("sum_norm_sq") - nd) / (nd * (nd - F.lit(1.0))),
        ).alias("mean_cos"),
    )


def sq8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization audit: quantize each dimension to 256
    levels on the corpus per-dim [min, max] range (the standard SQ8
    scheme every vector store ships as its 4x-compression default) and
    report per-vector reconstruction error —

        code_d(x) = clamp(floor((x - min_d)/scale_d + 0.5), 0, 255)
        recon_d   = min_d + code_d * scale_d,
        scale_d = (max_d - min_d)/255

    the 'is SQ8 safe for this corpus?' screen: outlier dimensions
    stretch the range and crush everyone else's resolution — exactly
    what mse/max_abs_err surface per vector before a store migration.

    Determinism: per-dim min/max are ORDER-FREE exact reductions (no
    float summation), so the corpus pass is deterministic at any
    scale; per-vector mse is ``exprs.ordered_sums`` by dim; floor(z + 0.5) is the
    same half-up in both engines (banker's-rounding-proof).
    Degenerate dims (max = min) quantize to code 0 with zero error.

    Scale: one narrow posexplode -> per-dim groupBy (d rows,
    broadcast back), one per-vector regroup; nothing corpus-sized is
    collected. Output: (id, mse double, max_abs_err double), one row
    per finite vector.
    """
    ev = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("_id"), ev.alias("_v"))
    bad = F.exists(
        F.col("_v"), lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    ex = base.where(~bad).select("_id", F.posexplode("_v").alias("_d", "_x"))
    stats = ex.groupBy("_d").agg(
        F.min("_x").alias("_mn"), F.max("_x").alias("_mx")
    )
    j = ex.join(F.broadcast(stats), "_d")
    scale = (F.col("_mx") - F.col("_mn")) / F.lit(255.0)
    # guard the degenerate dim BEFORE floor: (x-mn)/0 is NaN and
    # Spark's floor(double)->BIGINT errors on NaN under ANSI
    code = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.greatest(
                F.floor((F.col("_x") - F.col("_mn")) / scale + F.lit(0.5)),
                F.lit(0),
            ),
            F.lit(255),
        ),
    ).otherwise(F.lit(0))
    recon = F.col("_mn") + code.cast("double") * scale
    err = F.when(F.col("_mx") == F.col("_mn"), F.lit(0.0)).otherwise(
        F.col("_x") - recon
    )
    per = j.groupBy("_id").agg(
        *ordered_sums(["_d"], _sse=err * err),
        F.max(F.abs(err)).alias("max_abs_err"),
        F.count("*").alias("_n"),
    )
    return per.select(
        F.col("_id").alias(id_col),
        (F.col("_sse") / F.col("_n").cast("double")).alias("mse"),
        "max_abs_err",
    )


def label_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid geometry: each label's mean vector compared
    to the global mean — centroid L2 norm, cosine to the global
    centroid, and the label's share — the cluster-separation screen
    over a labeled embedding table ('do the classes even point in
    different directions?') that pairs with [[anisotropy]]'s
    whole-space collapse number.

    Determinism: per-(label, dim) and per-dim sums are
    ``exprs.ordered_sums`` by id; norms and the dot product by dim; fixed double
    chains. Zero-norm/non-finite vectors excluded. Exact baseline
    (see [[anisotropy]] for the 10^12-row note).

    Output: (label, n long, centroid_norm, cos_global doubles —
    cos NULL when either centroid is zero), one row per label.
    """
    ev = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_l"), ev.alias("_v")
    )
    bad = F.exists(
        F.col("_v"), lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    ex = base.where(~bad).select(
        "_id", "_l", F.posexplode("_v").alias("_d", "_x")
    )
    lab_dim = ex.groupBy("_l", "_d").agg(
        *ordered_sums(["_id"], _s=F.col("_x")), F.count("*").cast("long").alias("_n")
    )
    glob_dim = lab_dim.groupBy("_d").agg(*ordered_sums(["_l"], _g=F.col("_s")))
    lab_n = lab_dim.groupBy("_l").agg(F.max("_n").cast("long").alias("n"))
    tot_n = lab_n.agg(F.sum("n").cast("long").alias("_tn"))
    # the global centroid divides by the total row count, broadcast in
    # before the per-label fold
    j = lab_dim.join(F.broadcast(glob_dim), "_d").crossJoin(F.broadcast(tot_n))
    c = F.col("_s") / F.col("_n").cast("double")
    gc = F.col("_g") / F.col("_tn").cast("double")
    per = j.groupBy("_l").agg(
        F.max("_n").cast("long").alias("n"),
        *ordered_sums(["_d"], _cn2=c * c, _gn2=gc * gc, _dot=c * gc),
    )
    cn2, gn2, dot = F.col("_cn2"), F.col("_gn2"), F.col("_dot")
    ok = (cn2 > 0) & (gn2 > 0)
    return per.select(
        F.col("_l").alias(label_col),
        "n",
        F.sqrt(cn2).alias("centroid_norm"),
        F.when(ok, dot / (F.sqrt(cn2) * F.sqrt(gn2))).alias("cos_global"),
    )


def mahalanobis_diag(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diagonal-covariance Mahalanobis outlier score per embedding:

        score = sqrt( sum_d (x_d - mu_d)^2 / var_d )

    with per-dim population mean/variance from the corpus — the
    axis-aligned anomaly screen (full-covariance scoring would ride
    [[embedding_covariance]] + a solve; the diagonal form is the
    standard first pass and catches per-dimension scale outliers that
    the isotropic norm in [[embedding_stats]] averages away).
    Zero-variance dims contribute 0 (they carry no information).

    Determinism: per-dim mean and E[x^2] are ``exprs.ordered_sums`` by id (exact
    replay; the documented exact-baseline pattern — see
    [[anisotropy]] for the 10^12-row partial-sum alternative); the
    per-vector score sums by dim. Non-finite vectors are
    excluded.

    Output: (id, score double, max_dim_z double — the single worst
    per-dim |z|), one row per finite vector.
    """
    ev = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("_id"), ev.alias("_v"))
    bad = F.exists(
        F.col("_v"), lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    ex = base.where(~bad).select("_id", F.posexplode("_v").alias("_d", "_x"))
    per_dim = ex.groupBy("_d").agg(
        *ordered_sums(["_id"], _s=F.col("_x"), _s2=F.col("_x") * F.col("_x")),
        F.count("*").cast("long").alias("_n"),
    )
    nd = F.col("_n").cast("double")
    mu = F.col("_s") / nd
    var = F.col("_s2") / nd - mu * mu
    stats = per_dim.select("_d", mu.alias("_mu"), var.alias("_var"))
    j = ex.join(F.broadcast(stats), "_d")
    z2 = F.when(
        F.col("_var") > 0,
        (F.col("_x") - F.col("_mu")) * (F.col("_x") - F.col("_mu")) / F.col("_var"),
    ).otherwise(F.lit(0.0))
    per = j.groupBy("_id").agg(*ordered_sums(["_d"], _z2=z2), F.max(z2).alias("_mx"))
    return per.select(
        F.col("_id").alias(id_col),
        F.sqrt("_z2").alias("score"),
        F.sqrt("_mx").alias("max_dim_z"),
    )
