"""Deduplication operators for document corpora.

Large-scale training-data pipeline staples, all expressed as declarative
DataFrame plans:

* exact_dedup        — md5-hash groupBy (map-side partial agg for free)
* minhash_lsh_pairs  — shingle -> minhash signature -> band bucketing ->
                       in-bucket combination explode (bounded by the
                       bucket cap; single consumption of the signature
                       subtree, no self-join). The hash scheme is
                       engine-portable (DuckDB oracle computes the
                       identical signature).
* ngram_jaccard      — exact n-gram Jaccard for candidate pairs
* simhash            — bitwise majority over token hashes (Hamming-style
                       near-dup key)

Scale notes: every stage is groupBy/join on bounded-cardinality keys; the
band self-join is the standard LSH trick that avoids the O(n^2) pair
space. Giant buckets (degenerate shingles) are capped before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist_intermediate
from .skew import _spread


def normalize_text(col):
    """Lowercase + collapse whitespace (portable: lower/trim/regexp)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact (normalized) text.

    One shuffle on the 32-hex md5 key; min() is a partial aggregation so
    the map side combines before the exchange.
    """
    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").cast("long").alias("dup_count"))
    )


def word_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc via split + index explode.

    posexplode over the token array, then a self-zip of offset slices —
    all generator expressions, no Python. ``distinct=False`` skips the
    dedup shuffle for consumers whose downstream aggregate is
    duplicate-idempotent (MIN in the minhash signature).
    """
    # A small-file corpus arrives as one input split; spread the RAW docs
    # before ANY per-doc compute so the regex normalization, the
    # tokenization, and the explode all run across the cluster instead of
    # in one scan task (the \s+ collapse alone is milliseconds per doc —
    # serialized over a corpus it dominates the whole LSH job).
    toks = (
        _spread(docs, id_col)
        .select(F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("toks"))
        .where(F.size("toks") >= n)
    )
    sh = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
            )
        ).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# universal-hash permutation family over the Mersenne prime 2^31 - 1:
# perm_i(h) = (a_i * h + b_i) mod P with h = md5(shingle) folded to
# [0, P). Constants from a fixed LCG so the engine and the DuckDB oracle
# embed the identical table; products stay < 2^62 (no 64-bit overflow in
# either engine).
MINHASH_P = 2_147_483_647


def minhash_perm_constants(n_hashes: int) -> list[tuple[int, int]]:
    out = []
    x = 20240116
    for _ in range(n_hashes):
        x = (1103515245 * x + 12345) % MINHASH_P
        a = x or 1
        x = (1103515245 * x + 12345) % MINHASH_P
        out.append((a, x))
    return out


def minhash_signature(shingles: DataFrame, n_hashes: int = 16, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, perm, minhash) — min over universal-hash permutations of
    ONE md5 per shingle (folded to a 60-bit integer via the first 15 hex
    chars, then reduced mod P). One hash invocation per shingle instead
    of n_hashes salted md5s, and the 16x-amplified shuffle rows are
    LONGs, not 32-char strings; map-side MIN combine collapses them to
    n_hashes rows per doc per map task. Byte-identical in the DuckDB
    oracle (CAST('0x'||substr AS BIGINT) == conv(substr, 16, 10))."""
    ab = minhash_perm_constants(n_hashes)
    h = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long") % F.lit(MINHASH_P)
    ).alias("h")
    base = shingles.select(id_col, h)
    perms = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("perm")
    a_arr = F.array(*[F.lit(a) for a, _ in ab])
    b_arr = F.array(*[F.lit(b) for _, b in ab])
    expanded = base.select(id_col, "h", perms)
    val = (
        F.element_at(a_arr, F.col("perm") + 1) * F.col("h")
        + F.element_at(b_arr, F.col("perm") + 1)
    ) % F.lit(MINHASH_P)
    return (
        expanded.select(id_col, "perm", val.alias("hv"))
        .groupBy(id_col, "perm")
        .agg(F.min("hv").alias("minhash"))
    )


def _band_keys(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LSH band keys: (id, band, band_key) — the shared
    core of minhash_lsh_pairs and incremental_dup_candidates.

    distinct=False on the shingles: MIN over md5 hashes is
    duplicate-idempotent, so the shingle-dedup shuffle is pure waste on
    this path.

    r6 shape: the n_hashes permutation minima are ``n_hashes`` aggregate
    expressions in ONE groupBy(doc) over the shingle stream, instead of
    the previous perm-explode (n_hashes x the shingle rows) + a
    (doc, perm) shuffle + a second (doc, band) shuffle. Each minhash is
    the same min over the same multiset of (a*h+b) mod P values and the
    band key concatenates the same minima in the same permutation order,
    so every emitted (id, band, band_key) row is byte-identical — but
    the pipeline now shuffles |docs| rows once rather than
    |docs| x n_hashes rows twice (guide 2.3/2.4).
    """
    ab = minhash_perm_constants(n_hashes)
    h = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long") % F.lit(MINHASH_P)
    ).alias("h")
    base = word_shingles(docs, n, text_col, id_col, distinct=False).select(id_col, h)
    mins = base.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"_m{p}")
            for p, (a, b) in enumerate(ab)
        ]
    )
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(bb).cast("int").alias("band"),
                F.concat_ws(
                    ",",
                    *[F.col(f"_m{bb * band_size + r}") for r in range(band_size)],
                ).alias("band_key"),
            )
            for bb in range(n_bands)
        ]
    )
    return mins.select(id_col, F.explode(bands).alias("_bk")).select(
        id_col, "_bk.band", "_bk.band_key"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded minhash LSH.

    bands = n_hashes / band_size; a pair collides if any band of its
    signature matches exactly. Buckets larger than max_bucket are dropped
    (degenerate content; prevents quadratic bucket joins — the logged cap
    per 'no silent caps').
    """
    banded = _band_keys(docs, n, n_hashes, band_size, text_col, id_col)
    # Bucket-size gate BEFORE any list is built: a window COUNT over the
    # same (band, band_key) keys lets us drop rows of degenerate
    # mega-buckets (millions of empty/boilerplate docs sharing one band
    # signature) without ever materializing their id list in an
    # aggregation buffer — WindowExec spills its sorted run to disk,
    # whereas a collect_list buffer for one giant bucket cannot spill.
    # The filter preserves the window's hash partitioning, so the
    # collect_list groupBy below reuses it: still ONE exchange, and the
    # shingle->signature subtree is still consumed exactly once (the
    # textbook count-then-self-join re-executes it per side).
    w = Window.partitionBy("band", "band_key")
    sized = banded.withColumn("_bsz", F.count("*").over(w)).where(
        (F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket)
    )
    # In-bucket combination explode (bounded by max_bucket, so <= C(64,2)
    # structs per bucket) replaces a shuffle join with a map-side explode.
    buckets = (
        sized.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", salt: str = "s1"
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose salted-md5 prefix falls
    below the rate threshold. Engine-portable (hex-string compare; no RNG,
    no engine-specific hash), stable across runs/partitions — the right
    sampling primitive for reproducible corpus subsets and train/val
    splits at 100 TB (a different salt gives an independent sample)."""
    if rate >= 1.0:
        # rate=1.0 would format to the 9-char '100000000' and the 8-char
        # hex prefixes compare lexicographically BELOW it only by accident
        # of length — short-circuit to "keep everything" instead
        return df
    if rate <= 0.0:
        return df.where(F.lit(False))
    thr = format(int(rate * 16**8), "08x")
    h = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string"))), 1, 8
    )
    return df.where(h < F.lit(thr))


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split1",
    out: str = "split",
) -> DataFrame:
    """Deterministic disjoint train/val/test splitting: the salted-md5
    prefix of the key places each row in exactly one named bucket, with
    bucket widths proportional to ``fractions`` (which must sum to ~1).
    Same guarantees as hash_sample — no RNG, stable across runs,
    partitionings, and engines; a row's split never changes when the
    corpus around it grows, which per-partition RNG sampling cannot offer.
    Narrow column expressions only: zero shuffle at any scale."""
    return df.withColumn(out, split_expr(F.col(key_col), fractions, salt))


def split_expr(key: F.Column, fractions: dict[str, float], salt: str = "split1") -> F.Column:
    """The split assignment as a pure COLUMN expression of the key —
    shared by hash_split (assignment column on the corpus) and
    split_contamination (re-derives each pair endpoint's split from its
    id alone, so no join back to the corpus is ever needed)."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = F.substring(F.md5(F.concat(F.lit(salt), F.lit("|"), key.cast("string"))), 1, 8)
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        # cum can legitimately reach 1.0 mid-list ({'train': 1.0,
        # 'test': 0.0} passes the sum check); int(1.0 * 16**8) formats to
        # the 9-char '100000000' which string-compares BELOW most 8-char
        # hex prefixes and would silently route ~15/16 of rows onward.
        # 'gggggggg' sorts above every hex string = keep-all sentinel.
        # The sentinel keys on the INT threshold, not the float cum: a cum
        # just below 1.0 (e.g. 1 - 2**-53) can still multiply-and-truncate
        # to exactly 16**8, reproducing the 9-char bug past a float test.
        thr_int = int(cum * 16**8)
        thr = F.lit("g" * 8 if thr_int >= 16**8 else format(thr_int, "08x"))
        branch = F.when(h < thr, F.lit(name))
        expr = branch if expr is None else expr.when(h < thr, F.lit(name))
    last = F.lit(items[-1][0])
    return last if expr is None else expr.otherwise(last)


def split_contamination(
    pairs: DataFrame,
    fractions: dict[str, float],
    id_a: str = "id_a",
    id_b: str = "id_b",
    salt: str = "split1",
) -> DataFrame:
    """Cross-split near-duplicate leakage check: which candidate
    duplicate pairs STRADDLE the train/val/test boundary? A test
    document with a near-duplicate in train silently inflates eval —
    the standard pre-training hygiene check run after LSH candidate
    generation (the dedup analogue of q_decontaminate's n-gram form,
    but at the near-dup rather than exact-overlap level).

    Scale: because hash_split is a pure expression of the id, each
    endpoint's split is re-derived INLINE on the pair list (two md5
    calls per pair row) — zero joins, zero shuffles beyond whatever
    produced the pairs. The pair list is the LSH candidate output
    (bounded per bucket), never the corpus.

    Output: (id_a, id_b, split_a, split_b) for pairs with
    split_a != split_b, ordered deterministically by (id_a, id_b)."""
    out = pairs.select(
        F.col(id_a).cast("long").alias("id_a"),
        F.col(id_b).cast("long").alias("id_b"),
        split_expr(F.col(id_a), fractions, salt).alias("split_a"),
        split_expr(F.col(id_b), fractions, salt).alias("split_b"),
    )
    return out.where(F.col("split_a") != F.col("split_b"))


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over a candidate-pair edge list by iterative
    min-label propagation: each node repeatedly adopts the smallest label
    in its neighbourhood until a fixpoint (<= diameter iterations, O(log n)
    with the symmetric edge set in practice).

    The loop is driver-side but each step is one co-partitioned join +
    aggregate over the EDGE list (small: LSH candidates, not the corpus);
    localCheckpoint truncates the lineage so plans stay flat. Output:
    (id, cluster_id = min id in the component) for every node in an edge.
    """
    sym = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    changed = 0
    for _ in range(max_iter):
        nb_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = (
            labels.join(nb_min, labels["id"] == nb_min["src"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed > 0:
        # labels are only partially propagated: components with diameter >
        # max_iter (plausible for chained near-dup LSH graphs at corpus
        # scale) would get WRONG cluster ids — refuse to return them
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components by the alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds regardless of
    component DIAMETER, unlike min-label propagation's O(diameter) —
    the difference between 25 and 10^6 rounds on a chained near-dup
    graph (doc A ~ B ~ C ~ ... built by overlapping crawl snapshots).

    large-star: every neighbour larger than u links to min(N(u) ∪ {u});
    small-star: every neighbour ≤ u (edges directed large→small) links
    to the minimum. At the fixpoint the edge set IS the answer: a star
    per component rooted at its minimum id. Each half-round is one
    groupBy + one join on the edge list; the fingerprint used for the
    fixpoint test (count + hash sum) rides the same action.

    Output: (id, cluster_id = min id in the component) for every node
    that appears in an edge — identical contract to
    :func:`connected_components`.
    """
    # lazy checkpoints: the fingerprint action right after materializes
    # them, so each round costs ONE job, not two
    edges = (
        pairs.select(
            F.greatest(id_a, id_b).alias("u"), F.least(id_a, id_b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        # per-edge hash folded to [0, 1e9) before the sum so the ANSI-mode
        # long add cannot overflow below ~9e9 edges
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    fp = _fingerprint(edges)
    # each half-round is 2-3 tiny shuffles; AQE coalescing sizes them to
    # the edge list (results are partitioning-invariant: min/distinct)
    for _ in range(max_iter):
        # large-star over the symmetric neighbourhood
        sym = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on large→small directed edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_fp = _fingerprint(small)
        edges = small
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components_star did not reach a fixpoint in {max_iter} "
            "rounds; raise max_iter (expected O(log n) rounds)"
        )
    # fixpoint edge set is (node → component-min) for every non-root node
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    return members.unionByName(roots).distinct()


def dup_clusters(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate clusters: MinHash-LSH candidate pairs -> connected
    components (the O(log n)-round :func:`connected_components_star`) ->
    (doc_id, cluster_id = min doc id in the cluster)."""
    pairs = minhash_lsh_pairs(docs, n, n_hashes, band_size, text_col, id_col, max_bucket)
    return connected_components_star(pairs).select(F.col("id").alias(id_col), "cluster_id")


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs.

    |A ∩ B| via shingle equi-join, |A|,|B| via per-doc counts; when pairs
    is None every colliding shingle pair is considered (exact all-pairs
    over the inverted index — fine at test scale). At 100 TB either pass
    LSH candidate ``pairs`` (minhash_lsh_pairs) or set ``max_doc_freq``:
    shingles appearing in more than that many documents are dropped from
    CANDIDATE GENERATION only (a stop-shingle occurring in 10^6 docs
    would alone emit 10^12 join rows). The sizes used in the Jaccard
    denominator are always the full per-doc shingle counts, so the
    similarity of surviving pairs is a documented lower bound (missing
    intersections on capped shingles), never an overestimate.

    Cache lifetime: the shingle frame is persisted because it feeds three
    consumers of one lazy plan; the blocks stay cached until the caller
    evaluates the result and calls
    :func:`z_rad_spark.session.unpersist_intermediates` (or
    ``spark.catalog.clearCache()``) — long-lived sessions issuing many
    calls should do so to keep executor storage bounded.
    """
    # sh feeds the size aggregate AND both sides of the intersection join
    # (and optionally the doc-frequency filter): persist it so the
    # shingle explode + regex normalization run once, not once per
    # consumer (Spark re-executes a multi-consumed subtree from the scan).
    sh = persist_intermediate(word_shingles(docs, n, text_col, id_col))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    join_sh = sh
    if pairs is None and max_doc_freq is not None:
        df_counts = sh.groupBy("shingle").agg(F.countDistinct(id_col).alias("_df"))
        join_sh = sh.join(
            df_counts.where(F.col("_df") <= max_doc_freq).select("shingle"), "shingle"
        )
    a = join_sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = join_sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["id_a", "id_b"])
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc simhash: majority vote over token-hash bits.

    Bits come from the first hex chars of md5(token); the bit test is
    integer arithmetic on the hex-digit index (portable SQL, no bitwise
    intrinsics needed). Output: (doc_id, simhash bigint).
    """
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    toks = docs.repartition(n_parts, id_col).select(
        F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    )
    # one md5 per token folded to a `bits`-bit integer; the bit votes are
    # `bits` conditional sums in ONE aggregation (shift/and integer ops,
    # portable to the DuckDB oracle) — no per-bit row explosion, so the
    # shuffle carries tokens, not tokens x bits
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, (bits + 3) // 4), 16, 10).cast("long")
    toks = toks.select(id_col, h.alias("h"))
    votes = [
        F.sum(F.shiftright(F.col("h"), bits - 1 - b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = F.lit(0)
    for b in range(bits):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, w: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    — the MOSS algorithm): hash every word k-gram, slide a window of
    ``w`` consecutive hashes, and select each window's MINIMUM hash
    (ties -> rightmost), deduplicating repeated selections. The selected
    set is guaranteed to share a fingerprint with any copy of a passage
    of at least k + w - 1 tokens — positional, unlike MinHash's global
    signature, so matches localize to document regions.

    Engine-portable hashing (one md5 per k-gram folded mod 2^31-1, the
    minhash convention) so the DuckDB oracle replays it exactly.

    Scale shape: pure per-document array expressions — gram hashing, the
    windowed rightmost-min fold, and the distinct all happen inside the
    row (O(n*w) narrow compute, zero shuffle); only the final explode
    feeds whatever aggregation the caller adds. Documents with fewer
    than k + w - 1 tokens emit no fingerprints (the algorithm's contract).

    Output: (doc_id, pos, fp) — pos is the 1-based k-gram index of the
    selected hash.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints needs k >= 1 and w >= 1, got k={k} w={w}")
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    toks = (
        docs.repartition(n_parts, id_col)
        .select(F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("toks"))
        .where(F.size("toks") >= k + w - 1)
    )
    gram_hash = lambda i: (
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))), 1, 15),
            16,
            10,
        ).cast("long")
        % F.lit(MINHASH_P)
    )
    grams = toks.select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)), lambda i: gram_hash(i)
        ).alias("g"),
    )
    # rightmost-min fold per window: <= keeps later (rightmost) ties,
    # matching the reference algorithm's tie rule
    g = F.col("g")
    if w == 1:
        # degenerate window: every k-gram hash is selected. The fold below
        # would build sequence(j+1, j) — a DESCENDING 2-element sequence
        # whose first read is element_at(g, size+1), an out-of-bounds
        # error under ANSI mode.
        win_pick = F.transform(
            F.sequence(F.lit(1), F.size(g)),
            lambda j: F.struct(j.alias("pos"), F.element_at(g, j).alias("fp")),
        )
    else:
        win_pick = F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda j: F.aggregate(
                F.sequence(j + 1, j + (w - 1)),
                F.struct(j.alias("pos"), F.element_at(g, j).alias("fp")),
                lambda acc, i: F.when(
                    F.element_at(g, i) <= acc["fp"],
                    F.struct(i.alias("pos"), F.element_at(g, i).alias("fp")),
                ).otherwise(acc),
            ),
        )
    return (
        grams.select(id_col, F.explode(F.array_distinct(win_pick)).alias("s"))
        .select(id_col, F.col("s.pos").cast("int").alias("pos"), F.col("s.fp").alias("fp"))
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document line-level deduplication (the RefinedWeb / CCNet
    boilerplate filter: Penedo et al. 2023 §3.3 drop lines duplicated
    across documents — nav menus, cookie banners, footers).

    A line is removable when its NORMALIZED form (lower + collapsed
    whitespace) occurs in more than ``max_doc_freq`` distinct documents.
    Returns one row per input document: the cleaned text (surviving lines
    re-joined by ``delim`` in original order), ``n_lines`` and
    ``n_removed``.

    Plan (scale-first):
      1. posexplode lines — narrow.
      2. doc-frequency per line KEY: ``md5(normalized line)`` so the
         exchange moves 32-hex keys, never line bodies; two-level agg
         (distinct (key, doc) -> count) with map-side partial combine.
      3. equi-join lines -> over-frequent keys. The boilerplate set is
         the join's build side; at web scale it is the ~per-mille of
         line-classes crossing the threshold, so AQE picks a broadcast
         when it fits — no hint forced (ADVICE r3: never force-broadcast
         an unbounded frame).
      4. ordered reassembly: groupBy(doc) -> array_sort(collect_list(
         (pos, line))) -> concat_ws, bounded by document length.

    Cross-engine value contract: dedup keys are md5 hex (DuckDB replays
    byte-identically); reassembly order is the original line position, so
    the output string is exact, not float-tolerant.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delim), -1)).alias("pos", "line"),
    ).withColumn("lkey", F.md5(normalize_text(F.col("line"))))
    over = (
        lines.select("lkey", id_col)
        .distinct()
        .groupBy("lkey")
        .agg(F.count("*").cast("long").alias("line_df"))
        .where(F.col("line_df") > max_doc_freq)
        .select("lkey")
    )
    marked = lines.join(over.withColumn("_rm", F.lit(1)), "lkey", "left")
    kept = F.filter(F.col("_arr"), lambda r: r["rm"].isNull())
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", F.col("line").alias("line"), F.col("_rm").alias("rm")))
            ).alias("_arr")
        )
        .select(
            id_col,
            F.concat_ws(delim, F.transform(kept, lambda r: r["line"])).alias("clean_text"),
            F.size("_arr").cast("long").alias("n_lines"),
            (F.size("_arr") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    n: int = 8,
    min_doc_freq: int = 2,
    drop_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate n-gram span coverage — the fixed-length approximation of
    exact-substring deduplication (Lee et al. 2022, Deduplicating
    Training Data Makes Language Models Better: remove long token spans
    that occur verbatim elsewhere in the corpus; suffix arrays find
    arbitrary-length spans, production Spark pipelines approximate with
    sliding fixed-``n`` grams).

    A token position is COVERED when some n-gram starting at-or-before
    it (within ``n``) occurs in at least ``min_doc_freq`` distinct
    documents. Emits per document: token count, duplicated-gram start
    count, covered-token count (overlaps merged), coverage fraction and
    a drop decision at ``drop_frac``.

    Plan (scale-first):
      1. gram hashes as a per-document array expression (md5 of the
         space-joined slice — narrow, no explode until the join key is
         32-hex, never gram text).
      2. gram doc-frequency: distinct (gram, doc) -> count, map-side
         combined; the >= min_doc_freq set joins back by equi-key (AQE
         picks broadcast when the duplicated set fits — unbounded, so
         never hint-forced).
      3. covered tokens WITHOUT an interval fold: duplicated starts are
         strictly increasing per doc, so the merged-interval length is
         ``n + sum(min(n, start_i - start_{i-1}))`` — a sorted-array
         delta sum in exact integer arithmetic (the DuckDB oracle
         replays it as a window ``lag``).

    Reference cut semantics differ (they splice text); for curation the
    decision-bearing output is the coverage fraction, same as the
    repetition/Gopher filters.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    t_sz = F.size(toks)
    gram_arr = F.when(
        t_sz >= n,
        F.transform(
            F.sequence(F.lit(1), t_sz - n + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select(F.col(id_col), t_sz.alias("n_tokens"), gram_arr.alias("_g"))
    grams = base.select(id_col, F.posexplode("_g").alias("_p0", "gkey")).select(
        id_col, (F.col("_p0") + 1).alias("start"), "gkey"
    )
    dup = (
        grams.select("gkey", id_col)
        .distinct()
        .groupBy("gkey")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_doc_freq)
        .select("gkey")
    )
    starts = (
        grams.join(dup, "gkey")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("start")).alias("_s"))
    )
    deltas = F.transform(
        F.sequence(F.lit(1), F.size("_s") - 1),
        lambda j: F.least(F.lit(n), F.element_at("_s", j + 1) - F.element_at("_s", j)),
    )
    covered = F.when(
        F.size("_s") > 0,
        F.lit(n) + F.aggregate(deltas, F.lit(0), lambda acc, v: acc + v),
    ).otherwise(F.lit(0))
    stats = starts.select(
        id_col,
        F.size("_s").cast("long").alias("n_dup_grams"),
        covered.cast("long").alias("covered_tokens"),
    )
    out = base.select(id_col, "n_tokens").join(stats, id_col, "left")
    frac = F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    return out.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        frac.alias("dup_frac"),
        (frac >= F.lit(drop_frac)).cast("int").alias("drop_doc"),
    )


def ngram_containment(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric word-n-gram containment for candidate pairs (Broder
    1997 §2): Jaccard misses SUBSUMPTION — a short document pasted whole
    into a long one scores a tiny |A∩B|/|A∪B| but containment
    |A∩B|/|A| is ~1. This is the quote/boilerplate/excerpt detector a
    corpus pipeline runs next to the symmetric near-dup pass.

    Emits both directions plus the symmetric max:
      contain_a = |A∩B| / |A|   (how much of A lives inside B)
      contain_b = |A∩B| / |B|
      containment = |A∩B| / min(|A|, |B|)

    Same scale contract as ngram_jaccard: pass LSH candidate ``pairs``
    or set ``max_doc_freq`` at corpus scale (the df-cap drops
    stop-shingles from candidate generation only, so surviving scores
    are documented lower bounds); denominators are always the full
    per-doc shingle counts. The shingle frame is persisted for its three
    consumers — release with :func:`z_rad_spark.session.unpersist_intermediates`.
    """
    sh = persist_intermediate(word_shingles(docs, n, text_col, id_col))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    join_sh = sh
    if pairs is None and max_doc_freq is not None:
        df_counts = sh.groupBy("shingle").agg(F.countDistinct(id_col).alias("_df"))
        join_sh = sh.join(
            df_counts.where(F.col("_df") <= max_doc_freq).select("shingle"), "shingle"
        )
    a = join_sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = join_sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["id_a", "id_b"])
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
                "contain_a"
            ),
            (F.col("n_common").cast("double") / F.col("n_b").cast("double")).alias(
                "contain_b"
            ),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
    )
    return out.where(F.col("containment") >= threshold)


def dup_survivors(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    **cluster_kwargs,
) -> DataFrame:
    """Canonical-document selection over near-duplicate clusters: the
    step after dup_clusters that actually CUTS the corpus. Every
    document gets its cluster (singletons cluster with themselves), and
    each cluster keeps exactly one survivor — the member with the most
    normalized tokens, ties broken by the smallest id (deterministic:
    the pick is a pure function of (token count, id), never of engine
    order).

    Scale shape: the cluster assignment is dup_clusters' O(log n) star
    contraction; the survivor pick is ONE groupBy(cluster) MIN over the
    (-n_toks, id) struct — no per-cluster window, no collect_list, so a
    mega-cluster (the failure mode of real web dedup) costs a map-side
    combine, not a single-task sort. The per-cluster pick frame
    (|clusters| rows) joins back on cluster_id.

    Output: (doc_id, cluster_id, n_toks long, survivor_doc_id,
    is_survivor boolean, n_members long).
    """
    if clusters is None:
        clusters = dup_clusters(
            docs, n=n, text_col=text_col, id_col=id_col, **cluster_kwargs
        )
    toks = docs.select(
        F.col(id_col),
        F.size(F.split(normalize_text(F.col(text_col)), " ")).cast("long").alias(
            "n_toks"
        ),
    )
    assigned = toks.join(
        clusters.select(id_col, "cluster_id"), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    pick = assigned.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                (-F.col("n_toks")).alias("_neg"), F.col(id_col).alias("_id")
            )
        ).alias("_best"),
        F.count("*").cast("long").alias("n_members"),
    )
    pick = pick.select(
        "cluster_id", F.col("_best._id").alias("survivor_doc_id"), "n_members"
    )
    return assigned.join(pick, "cluster_id").select(
        id_col,
        "cluster_id",
        "n_toks",
        "survivor_doc_id",
        (F.col(id_col) == F.col("survivor_doc_id")).alias("is_survivor"),
        "n_members",
    )


def flag_retries(
    df: DataFrame,
    window_seconds: float = 60.0,
    text_col: str = "text",
) -> DataFrame:
    """Retry/double-send detection inside conversations: a turn is a
    RETRY when an identical (normalized) message appeared in the same
    conversation within ``window_seconds`` before it — the client-retry
    / double-tap artifact a transcript pipeline strips before training
    (exact_dedup removes global copies; this keeps legitimate repeats
    that are far apart in time and only drops the burst tail).

    Burst semantics (gaps-and-islands): within each (conv_id, content
    hash) the turns sort by (ts, turn_idx); a turn starts a new burst
    when its gap from the previous identical message exceeds the
    window. The burst head is kept, every follower is flagged. The flag
    is a pure function of exact integer microsecond gaps — engine-order
    free, oracle-replayable.

    Scale shape: ONE lag window over (conv_id, content-hash) — same
    cost class as every per-conversation window in the engine; no
    self-join, no collect.

    Adds: is_retry boolean.
    """
    from pyspark.sql import Window

    win_us = int(float(window_seconds) * 1_000_000)
    h = F.md5(normalize_text(F.col(text_col)))
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("conv_id", h).orderBy("ts", "turn_idx")
    gap = ts_us - F.lag(ts_us).over(w)
    return df.withColumn(
        "is_retry", F.coalesce(gap <= F.lit(win_us), F.lit(False))
    )


def incremental_dup_candidates(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
    corpus_banded: bool = False,
) -> DataFrame:
    """Incremental near-dup screening: candidate pairs between a NEW
    batch and the EXISTING corpus via banded minhash LSH — the shape an
    append-only 100 TB pipeline actually runs (re-clustering the whole
    corpus per ingest is quadratic history; screening the delta against
    the index is the steady state; pairs WITHIN the new batch are
    minhash_lsh_pairs' job on the delta alone).

    Both sides contribute the same _band_keys frame; buckets are
    size-gated like minhash_lsh_pairs and must contain BOTH sides (a
    one-sided bucket can't produce a cross pair — the filter drops it
    before any list materializes). In production the corpus side's band
    keys are computed once and PERSISTED (they are pure functions of
    the text): pass ``corpus_banded=True`` and supply ``corpus`` as the
    (id_col, band, band_key) frame _band_keys produced, and the corpus
    never re-tokenizes.

    Output: (new_id, corpus_id) distinct candidate pairs.
    """
    from pyspark.sql import Window

    nb = (
        _band_keys(new_docs, n, n_hashes, band_size, text_col, id_col)
        .select(F.col(id_col).alias("_id"), "band", "band_key")
        .withColumn("_side", F.lit(1))
    )
    corpus_keys = (
        corpus
        if corpus_banded
        else _band_keys(corpus, n, n_hashes, band_size, text_col, id_col)
    )
    cb = (
        corpus_keys
        .select(F.col(id_col).alias("_id"), "band", "band_key")
        .withColumn("_side", F.lit(0))
    )
    both = nb.unionByName(cb)
    w = Window.partitionBy("band", "band_key")
    sized = (
        both.withColumn("_bsz", F.count("*").over(w))
        .withColumn("_nn", F.sum("_side").over(w))
        .where(
            (F.col("_bsz") <= max_bucket)
            & (F.col("_nn") >= 1)
            & (F.col("_bsz") > F.col("_nn"))
        )
    )
    buckets = sized.groupBy("band", "band_key").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("_side") == 1, F.col("_id")))
        ).alias("news"),
        F.array_sort(
            F.collect_list(F.when(F.col("_side") == 0, F.col("_id")))
        ).alias("olds"),
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("news"),
            lambda x: F.transform(
                F.col("olds"), lambda y: F.struct(x.alias("new_id"), y.alias("corpus_id"))
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.new_id", "p.corpus_id")
        .distinct()
    )


def loop_detection(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Degenerate-repetition (generation-loop) detector: the most
    repeated word n-gram WITHIN each document — the screen that catches
    model output stuck in a loop ('the the the', repeated sentence
    tails), which global dedup never sees because the loop lives inside
    one document. Complements repetition_stats' dup-fraction: this one
    names the worst offender and how hard it loops.

    max_repeat = occurrences of the most frequent n-gram (ties: the
    lexicographically smallest gram — deterministic); loop_frac = the
    fraction of all n-gram slots that worst gram occupies.

    One (doc, gram) count shuffle + one per-doc MIN over the
    (-count, gram) struct — no per-doc window, exact integers, one
    division. Documents shorter than n words emit max_repeat 0.

    Output: (id_col, n_grams long, max_repeat long, top_gram string,
    loop_frac double).
    """
    sh = word_shingles(docs, n, text_col, id_col, distinct=False)
    counts = sh.groupBy(id_col, "shingle").agg(
        F.count("*").cast("long").alias("_c")
    )
    per = counts.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_grams"),
        F.min(
            F.struct((-F.col("_c")).alias("_neg"), F.col("shingle").alias("_g"))
        ).alias("_best"),
    )
    best_c = -F.col("_best._neg")
    out = per.select(
        id_col,
        "n_grams",
        best_c.cast("long").alias("max_repeat"),
        F.col("_best._g").alias("top_gram"),
        (best_c.cast("double") / F.col("n_grams").cast("double")).alias("loop_frac"),
    )
    short = docs.select(F.col(id_col)).join(out.select(id_col), id_col, "left_anti")
    empty = short.select(
        id_col,
        F.lit(0).cast("long").alias("n_grams"),
        F.lit(0).cast("long").alias("max_repeat"),
        F.lit(None).cast("string").alias("top_gram"),
        F.lit(None).cast("double").alias("loop_frac"),
    )
    return out.unionByName(empty)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "w1",
) -> DataFrame:
    """Deterministic per-row Bernoulli sampling with row-specific keep
    probabilities — the execution step for importance weights (pair
    with curation.dsir_weights: compute the weight, clamp to [0, 1],
    and THIS decides who stays). hash_sample is the constant-rate
    special case; the same salted-md5 uniform makes the draw
    reproducible across runs, partitionings, and engines (a different
    salt gives an independent draw).

    u = first-8-hex(md5(salt|key)) / 16^8 in [0, 1); keep when
    u < clamp(weight, 0, 1). Pure narrow expressions, zero shuffle.

    Adds: u double, keep boolean.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16 ** 8))
    )
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    out = df.withColumn("u", u)
    return out.withColumn("keep", F.col("u") < w)


def template_groups(
    docs: DataFrame,
    prefix_tokens: int = 8,
    min_group: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Source-level template/boilerplate detection: documents of the
    same source sharing their first ``prefix_tokens`` normalized tokens
    form a template group — the mail-merge / scraper-boilerplate
    pattern line_dedup (exact whole-line) and minhash (whole-document
    similarity) both miss when the template's TAIL varies.

    One (source, prefix-hash) count aggregate joined back on the same
    key — co-partitioned, no broadcast of an unbounded frame. Exact
    integers; the md5 prefix key is the engine-portable hash
    convention. Documents shorter than the prefix hash whatever tokens
    they have (a 3-token doc can still be a template).

    Adds: template_size long (docs sharing this source+prefix),
    is_templated boolean (template_size >= min_group).
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    prefix = F.md5(
        F.concat_ws(" ", F.slice(toks, 1, prefix_tokens))
    )
    base = docs.withColumn("_pfx", prefix)
    counts = base.groupBy(source_col, "_pfx").agg(
        F.count("*").cast("long").alias("template_size")
    )
    return base.join(counts, [source_col, "_pfx"]).withColumn(
        "is_templated", F.col("template_size") >= F.lit(int(min_group))
    ).drop("_pfx")


def lsh_recall_eval(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    max_bucket: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Recall/precision of the MinHash-LSH candidate generator against
    exact n-gram-Jaccard ground truth — the calibration run a pipeline
    does BEFORE trusting banded LSH at corpus scale (how many true
    near-dup pairs does this (n_hashes, band_size, max_bucket) setting
    miss, and how much over-generation does verification pay for?).

        recall    = |candidates ∩ truth| / |truth|
        precision = |candidates ∩ truth| / |candidates|

    Scale: the LSH side is the production bounded-bucket path; the
    exact-Jaccard side is the documented OPT-IN O(pairs-sharing-a-
    shingle) baseline (ngram_jaccard) — run this eval on a sampled
    slice at corpus scale, never the full corpus. The comparison
    itself is one full-outer equi-join of two pair lists + one
    aggregate: exact longs, two single divisions.

    Output: one row (n_true long, n_cand long, n_hit long,
    recall double, precision double)."""
    truth = (
        ngram_jaccard(docs, n=n, threshold=threshold)
        .select("id_a", "id_b")
        .withColumn("_in_t", F.lit(1))
    )
    cand = (
        minhash_lsh_pairs(
            docs, n=n, n_hashes=n_hashes, band_size=band_size, max_bucket=max_bucket
        )
        .select("id_a", "id_b")
        .withColumn("_in_c", F.lit(1))
    )
    j = cand.join(truth, ["id_a", "id_b"], "full")
    return j.groupBy().agg(
        F.sum(F.coalesce(F.col("_in_t"), F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("_in_c"), F.lit(0))).cast("long").alias("n_cand"),
        F.sum(F.coalesce(F.col("_in_t"), F.lit(0)) * F.coalesce(F.col("_in_c"), F.lit(0)))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_true",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_true") > 0, F.col("n_hit").cast("double") / F.col("n_true").cast("double")
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0, F.col("n_hit").cast("double") / F.col("n_cand").cast("double")
        ).alias("precision"),
    )


def component_size_stats(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup component size distribution: for each cluster size s,
    how many clusters and how many documents sit in clusters of that
    size, their corpus share, and (on every row for convenience) the
    giant-component share — the macro view of the dedup graph that
    [[dup_clusters]] lists per-document: a fat tail here means
    template families; a giant component means the LSH threshold is
    too loose (one merge step away from deduping the whole corpus).

    Singletons (documents in no candidate pair) are counted as size-1
    clusters, so the doc shares sum to 1.

    Determinism: exact long counts end to end; shares are single
    divisions. Bit-replayable.

    Scale: components on the pair graph only; the histogram is one
    groupBy over cluster sizes (size-cardinality rows). Output:
    (size long, n_clusters long, n_docs long, doc_share double,
    gcc_share double), size ascending.
    """
    cc = dup_clusters(docs, n, n_hashes, band_size, text_col, id_col, max_bucket)
    base = docs.select(F.col(id_col).cast("long").alias(id_col))
    assigned = base.join(cc.withColumnRenamed(id_col, id_col), id_col, "left").select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long").alias("_c"),
    )
    sizes = assigned.groupBy("_c").agg(F.count("*").cast("long").alias("_s"))
    hist = sizes.groupBy("_s").agg(F.count("*").cast("long").alias("n_clusters"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = hist.select(
        F.col("_s").alias("size"),
        "n_clusters",
        (F.col("_s") * F.col("n_clusters")).cast("long").alias("n_docs"),
    ).withColumn("_tot", F.sum("n_docs").over(w_all).cast("long")).withColumn(
        "_gcc", F.max("size").over(w_all).cast("long")
    )
    return out.select(
        "size",
        "n_clusters",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("_tot").cast("double")).alias(
            "doc_share"
        ),
        (F.col("_gcc").cast("double") / F.col("_tot").cast("double")).alias(
            "gcc_share"
        ),
    )


def dup_rate_by_source(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplication rate: the share of each source's
    documents sitting in a near-dup cluster of size >= 2 — WHICH feed
    is shipping boilerplate? ([[component_size_stats]] gives the
    corpus-wide histogram; procurement needs it per source.)

    Determinism: clusters from the seeded LSH + star components
    (recursive-closure-replayable); counts exact; one division.

    Output: (source, n_docs long, n_duped long, dup_rate double),
    one row per source.
    """
    cc = dup_clusters(docs, n, n_hashes, band_size, text_col, id_col, max_bucket)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("_sz")
    )
    duped = cc.join(F.broadcast(sizes), "cluster_id").where(
        F.col("_sz") >= 2
    ).select(F.col(id_col))
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(source_col).alias("_s")
    )
    flagged = base.join(
        duped.select(F.col(id_col).cast("long").alias(id_col), F.lit(1).alias("_d")),
        id_col,
        "left",
    )
    g = flagged.groupBy("_s").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_d").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_duped"),
    )
    return g.select(
        F.col("_s").alias(source_col),
        "n_docs",
        "n_duped",
        F.when(
            F.col("n_docs") > 0,
            F.col("n_duped").cast("double") / F.col("n_docs").cast("double"),
        ).alias("dup_rate"),
    )


def cross_source_dup(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
    source_col: str = "source",
) -> DataFrame:
    """Within- vs cross-source split of the near-dup candidate pairs:
    cross-source duplicates are syndication/contamination (the same
    passage arriving through two feeds — drop one SOURCE'S copy);
    within-source duplicates are boilerplate (template mass — drop by
    cluster). One number decides which dedup policy dominates.

    Determinism: the pair set is the seeded LSH candidate graph
    (id_a < id_b canonical); source lookup is an exact join; counts
    exact; shares single divisions. Bit-replayable.

    Output one row: (n_pairs long, n_within long, n_cross long,
    cross_share double — NULL when no pairs).
    """
    pairs = minhash_lsh_pairs(
        docs, n, n_hashes, band_size, text_col, id_col, max_bucket
    )
    src = docs.select(
        F.col(id_col).cast("long").alias("_id"), F.col(source_col).alias("_s")
    )
    j = (
        pairs.select(
            F.col("id_a").cast("long").alias("_a"),
            F.col("id_b").cast("long").alias("_b"),
        )
        .join(src.select(F.col("_id").alias("_a"), F.col("_s").alias("_sa")), "_a")
        .join(src.select(F.col("_id").alias("_b"), F.col("_s").alias("_sb")), "_b")
    )
    g = j.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("_sa") == F.col("_sb"), 1).otherwise(0))
        .cast("long")
        .alias("n_within"),
    )
    return g.select(
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(F.col("n_within"), F.lit(0)).cast("long").alias("n_within"),
        (
            F.coalesce(F.col("n_pairs"), F.lit(0)) - F.coalesce(F.col("n_within"), F.lit(0))
        ).cast("long").alias("n_cross"),
        F.when(
            F.col("n_pairs") > 0,
            (F.col("n_pairs") - F.col("n_within")).cast("double")
            / F.col("n_pairs").cast("double"),
        ).alias("cross_share"),
    )


def dup_threshold_sweep(
    docs: DataFrame,
    thresholds=(0.5, 0.7, 0.9),
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Dedup-policy sensitivity sweep: exact n-gram Jaccard is scored
    once over the LSH candidate pairs, then the pair count and the
    count of distinct documents touched are reported AT EACH
    threshold — how much volume does moving the near-dup bar from
    0.7 to 0.9 actually change? (The one-number-per-threshold view
    of [[ngram_jaccard]]'s raw pair list; a steep drop between
    thresholds means the corpus sits on a similarity cliff and the
    chosen bar needs care.)

    Determinism: the candidate graph is the seeded LSH replay; the
    Jaccard is exact set algebra; counts exact; one division for the
    doc share. Bit-replayable.

    Output: (threshold double, n_pairs long, n_docs long, doc_share
    double), thresholds ascending.
    """
    pairs = minhash_lsh_pairs(
        docs, n, n_hashes, band_size, text_col, id_col, max_bucket
    )
    # pair-count sized; consumed by both aggregate passes
    scored = persist_intermediate(ngram_jaccard(
        docs, pairs=pairs, n=n, text_col=text_col, id_col=id_col, threshold=0.0
    ))
    tot = docs.select(F.count("*").cast("long").alias("_nd"))
    ths = sorted(float(x) for x in thresholds)
    # ONE pass for the pair counts (conditional sums) and ONE for the
    # touched-doc counts (a doc clears bar t iff its MAX pair jaccard
    # does) — the naive per-threshold re-filter re-ran the whole
    # shingle scoring 2x per threshold (measured 8.6 s at sf0.1; this
    # shape scores once)
    pair_aggs = [
        F.sum(F.when(F.col("jaccard") >= F.lit(t), 1).otherwise(0))
        .cast("long")
        .alias(f"_p{i}")
        for i, t in enumerate(ths)
    ]
    pair_counts = scored.agg(*pair_aggs)
    per_id = (
        scored.select(F.col("id_a").alias("_i"), "jaccard")
        .unionByName(scored.select(F.col("id_b").alias("_i"), "jaccard"))
        .groupBy("_i")
        .agg(F.max("jaccard").alias("_mj"))
    )
    doc_aggs = [
        F.sum(F.when(F.col("_mj") >= F.lit(t), 1).otherwise(0))
        .cast("long")
        .alias(f"_d{i}")
        for i, t in enumerate(ths)
    ]
    doc_counts = per_id.agg(*doc_aggs)
    wide = pair_counts.crossJoin(F.broadcast(doc_counts))
    out = None
    for i, t in enumerate(ths):
        g = wide.select(
            F.lit(t).alias("threshold"),
            F.col(f"_p{i}").alias("n_pairs"),
            F.col(f"_d{i}").alias("n_docs"),
        )
        out = g if out is None else out.unionByName(g)
    out = out.crossJoin(F.broadcast(tot))
    return out.select(
        "threshold",
        "n_pairs",
        "n_docs",
        F.when(
            F.col("_nd") > 0,
            F.col("n_docs").cast("double") / F.col("_nd").cast("double"),
        ).alias("doc_share"),
    )


def shingle_profile(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    buckets=(1, 2, 10),
) -> DataFrame:
    """Shingle document-frequency profile: how many distinct
    ``n``-gram shingles appear in exactly 1 document, 2, 3-10, or
    more, and what share of total shingle OCCURRENCES each band
    carries — the template-mass diagnostic underneath every
    MinHash/LSH setting in this engine (a corpus whose occurrence
    mass sits in df>10 shingles is template-dominated: banding will
    flood candidates regardless of threshold, and
    [[minhash_lsh_pairs]]'s max_doc_freq prune is doing real work).

    Determinism: shingle sets per doc are exact distinct; df counts
    and occurrence sums exact; band edges are integer compares;
    shares single divisions. Bit-replayable.

    Output: (band string, n_shingles long, n_occurrences long,
    shingle_share double, occurrence_share double), bands in
    df order.
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    tk = F.split(norm, " ")
    sh = docs.select(
        F.col("doc_id"),
        F.explode(
            F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - n),
                    lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_s"),
    ).distinct()
    df_ = sh.groupBy("_s").agg(F.count("*").cast("long").alias("_df"))
    lo1, lo2, lo3 = (int(b) for b in buckets)
    band = (
        F.when(F.col("_df") <= lo1, F.lit("df=1"))
        .when(F.col("_df") <= lo2, F.lit("df=2"))
        .when(F.col("_df") <= lo3, F.lit("df=3-10"))
        .otherwise(F.lit("df>10"))
    )
    g = df_.groupBy(band.alias("band")).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("_df").cast("long").alias("n_occurrences"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = g.select(
        "band",
        "n_shingles",
        "n_occurrences",
        F.sum("n_shingles").over(w_all).cast("long").alias("_ts"),
        F.sum("n_occurrences").over(w_all).cast("long").alias("_to"),
    )
    return out.select(
        "band",
        "n_shingles",
        "n_occurrences",
        (F.col("n_shingles").cast("double") / F.col("_ts").cast("double")).alias(
            "shingle_share"
        ),
        (
            F.col("n_occurrences").cast("double") / F.col("_to").cast("double")
        ).alias("occurrence_share"),
    )
