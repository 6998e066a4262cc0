"""Iterative graph algorithms over entity-interaction graphs.

The corpus-ops companion to dedup.connected_components_star (which
handles the equivalence-closure side): PageRank ranks entities by
recursive interaction importance — source/user reputation weighting for
mixture sampling, influence-aware dedup survivor picks, crawl
prioritization.

Spark-first shape: a fixed-K loop of join + groupBy stages over an edge
DataFrame — each iteration is one co-partitioned equi-join (edges x
current ranks on src) and one aggregation exchange on dst. At cluster
scale, persist the edge table bucketed by src so every iteration reuses
the same shuffle-free scan side, and checkpoint ranks every few
iterations to truncate lineage. K is fixed (the operator is a
deterministic transformation, not a convergence loop) — callers pick K
from the graph diameter; rank deltas after 3-5 iterations are below any
downstream decision threshold for the bipartite interaction graphs this
engine feeds.

Reference parity: z-rad has no graph layer (its per-image features are
independent); this module exists for the LLM-pipeline side of SURVEY
§2's charter, like operators/dedup.py's clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# frames persisted here are released by session.unpersist_intermediates()
from ..session import persist_intermediate


def pagerank_bipartite(
    df: DataFrame,
    left_col: str = "user_id",
    right_col: str = "event_type",
    n_iter: int = 4,
    damping: float = 0.85,
    top_k: int = 20,
    exact_fold: bool = True,
) -> DataFrame:
    """PageRank over the bipartite interaction graph (left entities x
    right entities, an undirected edge per DISTINCT interacting pair,
    represented as two directed edges):

        pr_0(v)     = 1 / N
        pr_{k+1}(v) = (1 - d) / N + d * sum_{u -> v} pr_k(u) / outdeg(u)

    No dangling-node correction is needed: the bipartite symmetric
    construction gives every node at least one out- and in-edge.

    Determinism: with exact_fold=True (the oracle-gated mode) each
    node's incoming contributions combine in a SRC-ORDERED left fold,
    so the SQL oracle replays every iteration bit-for-bit; the per-node
    collect is bounded by in-degree — fine for the entity-interaction
    graphs here (right-side hubs collect the left cardinality), but a
    web-scale hub would want exact_fold=False, which swaps the fold for
    a plain partial-aggregated F.sum (same plan shape as every other
    aggregate; compare with tolerance, not hashes).

    Scale: per iteration, one equi-join (ranks x degrees on node — both
    node-cardinality tables), one equi-join (edges x shares on src),
    one aggregation exchange on dst. The edge table is reused K times —
    persist/bucket it by src in production. N is a one-off driver
    scalar (count), the same class as the engine's other driver-scalar
    aggregates.

    Output: top_k rows (node string, pr_scaled double = pr * N, so 1.0
    is the uniform-rank baseline) by (pr desc, node asc) — the
    deterministic tie-break matters because structurally identical
    entities get exactly equal ranks.
    """
    u = F.concat(F.lit("u:"), F.col(left_col).cast("string"))
    t = F.concat(F.lit("t:"), F.col(right_col).cast("string"))
    pairs = (
        df.where(F.col(left_col).isNotNull() & F.col(right_col).isNotNull())
        .select(u.alias("_u"), t.alias("_t"))
        .distinct()
    )
    edges = pairs.select(F.col("_u").alias("src"), F.col("_t").alias("dst")).unionByName(
        pairs.select(F.col("_t").alias("src"), F.col("_u").alias("dst"))
    )
    # the edge table and degree table are consumed 2x per iteration (the
    # share join and the inbox join) — persist both so the K-iteration
    # loop reuses one materialization instead of re-deriving the distinct
    # pair set 2K times (release with session.unpersist_intermediates()
    # after the final action)
    # cached pre-partitioned on src (the docstring's production advice):
    # the K inbox joins then reuse the cached partitioning instead of
    # re-shuffling the edge table every iteration
    edges = persist_intermediate(edges.repartition("src"))
    deg = persist_intermediate(edges.groupBy("src").agg(F.count("*").cast("long").alias("od")))
    nodes = deg.select(F.col("src").alias("node"))
    n_nodes = nodes.count()  # driver scalar: graph order
    nd = F.lit(float(n_nodes))
    pr = nodes.select("node", (F.lit(1.0) / nd).alias("pr"))
    base = (F.lit(1.0) - F.lit(damping)) / nd
    for _ in range(n_iter):
        share = pr.join(deg.withColumnRenamed("src", "node"), "node").select(
            F.col("node").alias("src"),
            (F.col("pr") / F.col("od").cast("double")).alias("sh"),
        )
        inbox = edges.join(share, "src")
        if exact_fold:
            folded = inbox.groupBy("dst").agg(
                F.sort_array(F.collect_list(F.struct("src", "sh"))).alias("_c")
            )
            summed = F.aggregate(
                F.col("_c"), F.lit(0.0), lambda acc, e: acc + e["sh"]
            )
        else:
            folded = inbox.groupBy("dst").agg(F.sum("sh").alias("_c"))
            summed = F.col("_c")
        pr = folded.select(
            F.col("dst").alias("node"),
            (base + F.lit(damping) * summed).alias("pr"),
        )
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node").asc())
        .limit(top_k)
        .select("node", (F.col("pr") * nd).alias("pr_scaled"))
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Global triangle census over an undirected edge list — triangle
    count, wedge count, and transitivity (global clustering
    coefficient):

        transitivity = 3 * triangles / wedges,
        wedges = sum_v C(deg_v, 2)

    The near-dup-graph density probe: fed the LSH candidate pairs, a
    transitivity near 1 means candidates form tight duplicate cliques
    (safe to contract — [[dedup.connected_components_star]] clusters
    them), near 0 means chains/stars (banding artifacts worth a
    threshold look).

    Algorithm: degree orientation (Suri & Vassilvitskii's MR-friendly
    form) — orient every edge from its lower (degree, id) endpoint to
    the higher, enumerate wedges only at each edge's SOURCE, and close
    them against the undirected edge set. Each triangle is counted
    exactly once (at its minimum-degree vertex), and the per-vertex
    wedge fan-out is bounded by the oriented out-degree, which the
    orientation caps at O(sqrt(m)) — the step that keeps a hub's
    quadratic wedge blow-up off the shuffle.

    Determinism: every count is an exact long (joins + integer
    arithmetic; id-order tie-breaks inside the orientation); the only
    float op is the final transitivity division.

    Output one row: (n_nodes long, n_edges long, n_wedges long,
    n_triangles long, transitivity double — NULL when no wedges).
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    # consumed by degrees, orientation, and closure
    und = persist_intermediate(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    deg = persist_intermediate(
        und.select(F.col("_a").alias("_n"))
        .unionByName(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    e = (
        und.join(deg.withColumnRenamed("_n", "_a").withColumnRenamed("_d", "_da"), "_a")
        .join(deg.withColumnRenamed("_n", "_b").withColumnRenamed("_d", "_db"), "_b")
    )
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    o = e.select(
        F.when(lower_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(lower_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
    )
    o2 = o.select(F.col("_u").alias("_u2"), F.col("_v").alias("_v2"))
    wedge = o.join(o2, (F.col("_u") == F.col("_u2")) & (F.col("_v") < F.col("_v2")))
    tri = wedge.join(
        und,
        (F.col("_v") == F.col("_a")) & (F.col("_v2") == F.col("_b")),
        "left_semi",
    )
    n_tri = tri.agg(F.count("*").cast("long").alias("n_triangles"))
    gd = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.expr("CAST(sum(_d * (_d - 1)) div 2 AS BIGINT)").alias("n_wedges"),
    )
    ge = und.agg(F.count("*").cast("long").alias("n_edges"))
    g = gd.crossJoin(ge).crossJoin(n_tri)  # three single-row aggregates
    trans = F.when(
        F.col("n_wedges") > 0,
        F.lit(3.0) * F.col("n_triangles").cast("double")
        / F.col("n_wedges").cast("double"),
    )
    return g.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles", trans.alias("transitivity")
    )


def hits_bipartite(
    df: DataFrame,
    left_col: str = "user_id",
    right_col: str = "event_type",
    n_iter: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the bipartite
    interaction graph — the asymmetric complement to
    [[pagerank_bipartite]]: PageRank scores every node on one scale;
    HITS separates LEFT entities (hubs: users whose interactions span
    the important slots) from RIGHT entities (authorities: slots the
    important users converge on), the shape a mixture-sampling policy
    actually wants (weight sources by authority, weight annotators by
    hub score).

        a_{k+1}(t) = sum_{u ~ t} h_k(u) / ||.||_2
        h_{k+1}(u) = sum_{t ~ u} a_{k+1}(t) / ||.||_2

    from h_0 = 1, over the DISTINCT interacting pairs.

    Determinism: every per-node sum is a neighbor-ordered left fold and
    both L2 normalizations fold in node order (one sqrt each), so the
    SQL oracle replays all n_iter iterations bit-for-bit. Structurally
    identical entities get exactly equal scores — the output tie-break
    (score desc, node asc) makes the top_k selection deterministic.

    Scale: per half-iteration one equi-join (pairs x scores) + one
    aggregation exchange; the pair table is persisted and reused 2K
    times (the [[pagerank_bipartite]] registry idiom). The
    normalization is a single-row aggregate broadcast back — at
    web-hub scale swap the folds for plain sums as in pagerank's
    exact_fold=False.

    Output: 2 * top_k rows (kind string 'hub'|'authority', node
    string, score double), hubs first, each block by (score desc,
    node asc).
    """
    pairs = persist_intermediate(
        df.where(F.col(left_col).isNotNull() & F.col(right_col).isNotNull())
        .select(
            F.col(left_col).cast("string").alias("u"),
            F.col(right_col).cast("string").alias("t"),
        )
        .distinct()
    )

    def _l2_normalize(scores: DataFrame, node_col: str, score_col: str) -> DataFrame:
        # truncate lineage on both sides of the normalize: the raw frame
        # feeds the norm aggregate AND the division, and the normalized
        # frame feeds the next half-iteration AND (on the last pass) the
        # output — without truncation the self-referencing lineage
        # compounds ~3x per half-iteration (measured: 284 scans / 944
        # exchanges in the 3-iteration physical plan, and the plan tree
        # itself overflows toString). localCheckpoint(eager=False) is the
        # engine-wide iterative idiom (connected_components_star).
        scores = scores.localCheckpoint(eager=False)
        nrm = scores.agg(
            F.sqrt(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct(node_col, score_col))),
                    F.lit(0.0),
                    lambda acc, e: acc + e[score_col] * e[score_col],
                )
            ).alias("_nrm")
        )
        return scores.crossJoin(nrm).select(  # single-row norm side
            node_col, (F.col(score_col) / F.col("_nrm")).alias(score_col)
        ).localCheckpoint(eager=False)

    h = pairs.select("u").distinct().select("u", F.lit(1.0).alias("h"))
    a = None
    for _ in range(n_iter):
        a_raw = (
            pairs.join(h, "u")
            .groupBy("t")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("u", "h"))),
                    F.lit(0.0),
                    lambda acc, e: acc + e["h"],
                ).alias("a")
            )
        )
        a = _l2_normalize(a_raw, "t", "a")
        h_raw = (
            pairs.join(a, "t")
            .groupBy("u")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("t", "a"))),
                    F.lit(0.0),
                    lambda acc, e: acc + e["a"],
                ).alias("h")
            )
        )
        h = _l2_normalize(h_raw, "u", "h")
    hubs = (
        h.orderBy(F.col("h").desc(), F.col("u").asc())
        .limit(top_k)
        .select(F.lit("hub").alias("kind"), F.col("u").alias("node"), F.col("h").alias("score"))
    )
    auths = (
        a.orderBy(F.col("a").desc(), F.col("t").asc())
        .limit(top_k)
        .select(
            F.lit("authority").alias("kind"),
            F.col("t").alias("node"),
            F.col("a").alias("score"),
        )
    )
    return hubs.unionByName(auths)


def label_propagation(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan, Albert &
    Kumara 2007) over an undirected edge list, summarized — the
    DENSITY-aware complement to [[dedup.connected_components_star]]:
    CC closes the transitive hull (one bridge edge merges two template
    families), LPA keeps densely-connected cores separate because each
    node adopts its MAJORITY neighbor label, not any neighbor label.

        label_0(v)     = v
        label_{k+1}(v) = argmax_label |{u ~ v : label_k(u) = label}|
                         (ties -> smallest label)

    n_iter is fixed (the operator is a deterministic transformation;
    synchronous LPA can oscillate on bipartite cores, so callers pick
    a small K and read the summary as a density diagnostic, not an
    exact partition — the standard practice for the synchronous
    variant).

    Determinism: labels are exact longs; the per-node argmax is a
    (count desc, label asc) row_number pick — no float anywhere except
    the final mean. Scale: per iteration one equi-join (edges x
    labels) + one (node, label) count aggregate + one argmax window
    partitioned by node; the edge table is persisted across
    iterations (the [[pagerank_bipartite]] registry idiom).

    Output one row: (n_nodes long, n_communities long, max_size long,
    mean_size double).
    """
    from pyspark.sql import Window

    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    und = (
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    dir_e = persist_intermediate(
        und.select(F.col("_a").alias("src"), F.col("_b").alias("dst")).unionByName(
            und.select(F.col("_b").alias("src"), F.col("_a").alias("dst"))
        )
    )
    lab = dir_e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w_pick = Window.partitionBy("node").orderBy(
        F.col("_cnt").desc(), F.col("lbl").asc()
    )
    for _ in range(n_iter):
        neigh = dir_e.join(
            lab.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "lbl")
        cnt = neigh.groupBy("node", "lbl").agg(F.count("*").cast("long").alias("_cnt"))
        lab = (
            cnt.withColumn("_rn", F.row_number().over(w_pick))
            .where(F.col("_rn") == 1)
            .select("node", "lbl")
        )
    sizes = lab.groupBy("lbl").agg(F.count("*").cast("long").alias("_sz"))
    return sizes.agg(
        F.sum("_sz").cast("long").alias("n_nodes"),
        F.count("*").cast("long").alias("n_communities"),
        F.max("_sz").cast("long").alias("max_size"),
    ).select(
        "n_nodes",
        "n_communities",
        "max_size",
        (F.col("n_nodes").cast("double") / F.col("n_communities").cast("double")).alias(
            "mean_size"
        ),
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 4,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """k-core peeling summary over an undirected edge list: repeatedly
    drop every node whose CURRENT degree is below ``k`` (Seidman 1983),
    for a FIXED ``n_rounds`` peels — the dedup-graph robustness probe
    that separates genuine duplicate cliques (which survive peeling:
    every member keeps >= k neighbors) from banding chains and stars
    (which unravel: leaves drop, exposing new leaves).

    Fixed-round unrolling keeps the operator a deterministic
    transformation (the [[pagerank_bipartite]] / [[label_propagation]]
    convention): the output carries a ``converged`` flag per round
    (node count unchanged vs the previous round), so callers SEE
    whether n_rounds reached the fixpoint instead of trusting it.

    Scale: each round is one degree aggregation (groupBy on the edge
    endpoints, map-side combined) and two semi-joins (edges x kept
    nodes — the kept-node side is the smaller survivor table, and AQE
    broadcasts it once peeling shrinks it). Each round's edge frame is
    consumed THREE times (degree pass, filter pass, stats row), so the
    per-round frame is lineage-truncated with
    ``localCheckpoint(eager=False)`` — without it the logical plan
    compounds 3^rounds copies of the upstream pipeline and Catalyst
    planning dominates wall time (the [[hits_bipartite]] lesson).

    Determinism: every count is an exact long — no floats anywhere.

    Output: n_rounds + 1 rows (round int, 0 = before peeling;
    n_nodes long; n_edges long; converged long 1/0 — node count
    unchanged vs the previous round, 0 by definition for round 0).
    """
    from pyspark.sql import Window

    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    cur = (
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    stats = []

    def _round_stats(e: DataFrame, rnd: int) -> DataFrame:
        return (
            e.select(F.explode(F.array("_a", "_b")).alias("_n"))
            .agg(
                F.count_distinct(F.col("_n")).cast("long").alias("n_nodes"),
                (F.count("*").cast("long") / F.lit(2)).cast("long").alias("n_edges"),
            )
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )

    stats.append(_round_stats(cur, 0))
    for rnd in range(1, n_rounds + 1):
        deg = (
            cur.select(F.explode(F.array("_a", "_b")).alias("_n"))
            .groupBy("_n")
            .agg(F.count("*").cast("long").alias("_d"))
        )
        keep = deg.where(F.col("_d") >= k).select("_n")
        nxt = (
            cur.join(keep.withColumnRenamed("_n", "_a"), "_a", "left_semi")
            .join(keep.withColumnRenamed("_n", "_b"), "_b", "left_semi")
            .select("_a", "_b")
            .localCheckpoint(eager=False)
        )
        stats.append(_round_stats(nxt, rnd))
        cur = nxt
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    w = Window.orderBy("round")  # n_rounds+1 rows: single-partition window is fine
    return out.select(
        "round",
        "n_nodes",
        "n_edges",
        F.when(
            (F.col("round") > 0) & (F.col("n_nodes") == F.lag("n_nodes").over(w)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("converged"),
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    edge list: the Pearson correlation of the degrees at the two ends
    of each edge, over the symmetric directed edge set (each undirected
    edge contributes both orientations, the standard convention that
    makes the two marginals identical).

    With M = 2m directed edges, j/k the endpoint degrees, and exact
    integer sums S_j = sum j, S_jk = sum j*k, S_jj = sum j^2:

        r = (M * S_jk - S_j^2) / (M * S_jj - S_j^2)

    — an exact-integer numerator and denominator (the engine's
    sufficient-statistic idiom: not one float until the final
    division). Positive r = duplicate cliques attach to cliques
    (contract freely); negative r = hub-and-spoke banding artifacts
    (a hub contraction would over-merge).

    Scale: one degree aggregation, two broadcast-able joins of the
    degree table onto the edge list, one single-row aggregate. The
    products ride DECIMAL(38,0) so a web-scale graph (deg ~ 1e6,
    m ~ 1e9) cannot wrap the long multiply.

    Output one row: (n_nodes long, n_edges long, s_j long, s_jk long,
    s_jj long, assortativity double — NULL when the degree variance is
    zero, e.g. a perfect matching or a single clique).
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    und = persist_intermediate(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("_a", "_b")).alias("_n"))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    sym = und.select(F.col("_a").alias("_s"), F.col("_b").alias("_t")).unionByName(
        und.select(F.col("_b").alias("_s"), F.col("_a").alias("_t"))
    )
    e = (
        sym.join(deg.withColumnRenamed("_n", "_s").withColumnRenamed("_d", "_dj"), "_s")
        .join(deg.withColumnRenamed("_n", "_t").withColumnRenamed("_d", "_dk"), "_t")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = e.agg(
        (F.count("*").cast("long") / F.lit(2)).cast("long").alias("n_edges"),
        F.count("*").cast("decimal(38,0)").alias("_m"),
        F.sum(dec("_dj")).alias("_sj"),
        F.sum(dec("_dj") * dec("_dk")).alias("_sjk"),
        F.sum(dec("_dj") * dec("_dj")).alias("_sjj"),
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    num = F.col("_m") * F.col("_sjk") - F.col("_sj") * F.col("_sj")
    den = F.col("_m") * F.col("_sjj") - F.col("_sj") * F.col("_sj")
    return nn.crossJoin(g).select(  # two single-row aggregates
        "n_nodes",
        "n_edges",
        F.col("_sj").cast("long").alias("s_j"),
        F.col("_sjk").cast("long").alias("s_jk"),
        F.col("_sjj").cast("long").alias("s_jj"),
        F.when(
            den != F.lit(0).cast("decimal(38,0)"),
            num.cast("double") / den.cast("double"),
        ).alias("assortativity"),
    )


def wl_conversation_fingerprint(
    df: DataFrame,
    n_rounds: int = 2,
    group_col: str = "conv_id",
    role_col: str = "role",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Weisfeiler-Lehman structural fingerprint of each conversation's
    role-transition multigraph (Weisfeiler & Lehman 1968; Shervashidze
    et al. 2011) — STRUCTURAL template detection: two conversations get
    the same fingerprint iff WL color refinement cannot distinguish
    their (role, lag-1 transition, multiplicity) graphs, regardless of
    length or surface text. The shape-level complement to
    [[dedup]]-module template_groups (which fingerprints normalized
    TEXT): a support-bot flow and its paraphrase collide here and not
    there.

    Colors are canonical STRINGS refined by SHA-256 — both engines
    implement standard SHA-256 (Spark ``sha2(s, 256)``, DuckDB
    ``sha256``), so unlike xxhash the refinement replays bit-for-bit
    in the SQL oracle. Round k+1 of node v:

        sha256( color_k(v) || '|' || join(sort(['i' c_k(u) 'x' cnt ..]))
                           || '|' || join(sort(['o' c_k(w) 'x' cnt ..])) )

    over in- and out-neighbors with edge multiplicities — the exact
    multiset-signature form, tokenized canonically so engine sort
    order (binary, pure-ASCII tokens) matches SQL ORDER BY.

    Scale: the node table is |convs| x |roles| (tiny); each round is
    two equi-joins of edges x colors and two sorted-fold aggregations,
    all partitioned by conversation — no global state. Colors are
    lineage-truncated per round (localCheckpoint — the [[kcore_peel]]
    3-reference lesson).

    Output: one row per distinct fingerprint (wl_fingerprint string,
    n_convs long, rep_conv string = min conv_id exemplar).
    """
    from pyspark.sql import Window

    w_role = F.col(role_col).cast("string")
    base = df.select(
        F.col(group_col), w_role.alias("_r"), F.col(ts_col), F.col(idx_col)
    )
    lagw = Window.partitionBy(group_col).orderBy(ts_col, idx_col)
    ordered = base.withColumn("_prev", F.lag("_r").over(lagw))
    edges = persist_intermediate(
        ordered.where(F.col("_prev").isNotNull())
        .groupBy(group_col, F.col("_prev").alias("_src"), F.col("_r").alias("_dst"))
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    colors = (
        base.select(group_col, F.col("_r").alias("_node"))
        .distinct()
        .select(group_col, "_node", F.col("_node").alias("_color"))
    )
    for _ in range(n_rounds):
        src_c = colors.select(
            group_col, F.col("_node").alias("_src"), F.col("_color").alias("_sc")
        )
        dst_c = colors.select(
            group_col, F.col("_node").alias("_dst"), F.col("_color").alias("_dc")
        )
        inbox = (
            edges.join(src_c, [group_col, "_src"])
            .select(
                group_col,
                F.col("_dst").alias("_node"),
                F.concat(F.lit("i"), F.col("_sc"), F.lit("x"), F.col("_cnt").cast("string")).alias("_tok"),
            )
            .groupBy(group_col, "_node")
            .agg(F.array_join(F.sort_array(F.collect_list("_tok")), ",").alias("_in"))
        )
        outbox = (
            edges.join(dst_c, [group_col, "_dst"])
            .select(
                group_col,
                F.col("_src").alias("_node"),
                F.concat(F.lit("o"), F.col("_dc"), F.lit("x"), F.col("_cnt").cast("string")).alias("_tok"),
            )
            .groupBy(group_col, "_node")
            .agg(F.array_join(F.sort_array(F.collect_list("_tok")), ",").alias("_out"))
        )
        colors = (
            colors.join(inbox, [group_col, "_node"], "left")
            .join(outbox, [group_col, "_node"], "left")
            .select(
                group_col,
                "_node",
                F.sha2(
                    F.concat(
                        F.col("_color"),
                        F.lit("|"),
                        F.coalesce(F.col("_in"), F.lit("")),
                        F.lit("|"),
                        F.coalesce(F.col("_out"), F.lit("")),
                    ),
                    256,
                ).alias("_color"),
            )
            .localCheckpoint(eager=False)
        )
    fp = colors.groupBy(group_col).agg(
        F.sha2(F.array_join(F.sort_array(F.collect_list("_color")), ","), 256).alias(
            "wl_fingerprint"
        )
    )
    return fp.groupBy("wl_fingerprint").agg(
        F.count("*").cast("long").alias("n_convs"),
        F.min(group_col).alias("rep_conv"),
    )


def adamic_adar(
    edges: DataFrame,
    top_k: int = 20,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    exclude_edges: bool = True,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list
    (Adamic & Adar 2003; the LibenNowell-Kleinberg benchmark's
    strongest local index): for every NON-adjacent pair (u, v) sharing
    at least one neighbor,

        cn(u,v)  = |N(u) ∩ N(v)|
        aa(u,v)  = sum_{w in N(u) ∩ N(v)} 1 / ln(deg(w))
        jac(u,v) = cn / (deg(u) + deg(v) - cn)

    On the dedup candidate graph this is the "missing edge" probe: a
    high-AA non-edge is a document pair LSH banding missed but whose
    shared near-dup neighbours imply (recall repair / cluster-merge
    candidates); on interaction graphs it is the classic
    recommend-a-link score. Common neighbours down-weighted by log
    degree beat raw counts because hub neighbours carry no signal.

    Scale: wedge enumeration is ONE self-join of the symmetrized edge
    list on the centre node w — cost sum_w deg(w)^2, the same bound as
    [[triangle_stats]] and capped upstream by the LSH max_bucket; the
    existing-edge exclusion is a broadcast-or-shuffle anti-join on the
    canonical (u, v) key; degrees broadcast back (bounded by node
    count). No float summation exists: aa folds 1/ln(deg) in SORTED
    centre-node order via F.aggregate over the per-pair sorted
    (w, deg) list, so the SQL oracle replays the sum term-for-term
    bit-for-bit. deg(w) >= 2 for any common neighbour, so ln(deg) > 0.

    Output: top_k rows (u long, v long, cn long, deg_u, deg_v long,
    aa double, jaccard double) by (aa DESC, u, v) — a total order
    because aa ties are broken by the canonical pair key.

    ``exclude_edges=False`` keeps adjacent pairs too and adds an
    ``is_edge`` long flag: on a clique-heavy dedup graph (LSH buckets
    project to cliques, so non-edge wedges can be empty) the same
    score over EDGES is the embeddedness index used for similarity-
    graph sparsification (keep the high-AA edges, drop bridges).

    Reference parity: z-rad has no graph layer (SURVEY §2 charter
    note); this extends the dedup-graph battery (q_triangles, q_kcore,
    q_assortativity) with the predictive index.
    """
    und = (
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("b"),
        )
        .distinct()
    )
    und = und.localCheckpoint(eager=False)  # reused 4x below
    sym = und.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        und.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = sym.groupBy(F.col("s").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    # wedges centred on w: (u — w — v) with u < v; deg(w) rides along
    e1 = sym.select(F.col("s").alias("w"), F.col("t").alias("u"))
    e2 = sym.select(F.col("s").alias("w"), F.col("t").alias("v"))
    wedges = (
        e1.join(e2, "w")
        .where(F.col("u") < F.col("v"))
        .join(F.broadcast(deg.withColumnRenamed("n", "w")), "w")
    )
    pairs = wedges.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("cn"),
        F.sort_array(F.collect_list(F.struct("w", "d"))).alias("_ws"),
    )
    # existing edges out (link PREDICTION scores non-edges only) — or
    # flagged, when the caller wants the embeddedness view
    if exclude_edges:
        pairs = pairs.join(
            und,
            (pairs["u"] == und["a"]) & (pairs["v"] == und["b"]),
            "left_anti",
        )
    else:
        flag = und.select(
            F.col("a").alias("u"), F.col("b").alias("v"), F.lit(1).alias("_ie")
        )
        pairs = pairs.join(flag, ["u", "v"], "left").withColumn(
            "is_edge", F.coalesce(F.col("_ie"), F.lit(0)).cast("long")
        )
    aa = F.aggregate(
        F.col("_ws"),
        F.lit(0.0),
        lambda acc, s: acc + F.lit(1.0) / F.log(s["d"].cast("double")),
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("deg_v"))
    sel = [
        "u",
        "v",
        "cn",
        "deg_u",
        "deg_v",
        aa.alias("aa"),
        (
            F.col("cn").cast("double")
            / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double")
        ).alias("jaccard"),
    ]
    if not exclude_edges:
        sel.append("is_edge")
    out = pairs.join(F.broadcast(du), "u").join(F.broadcast(dv), "v").select(*sel)
    return out.orderBy(F.col("aa").desc(), "u", "v").limit(top_k)


def local_clustering(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected edge
    list (Watts & Strogatz 1998): for each node v with degree >= 2,

        c_v = 2 * tri_v / (deg_v * (deg_v - 1))

    — the NODE-level reading of what [[triangle_stats]] reports
    globally. On the LSH candidate-pair graph it separates nodes
    embedded in duplicate cliques (c near 1: contract them) from hub
    nodes that merely bridge many chains (c near 0: banding artifacts
    a threshold pass should inspect before any contraction).

    Algorithm: the same degree orientation as [[triangle_stats]]
    (every edge oriented from its lower (degree, id) endpoint; wedges
    enumerated only at each oriented source, closed against the
    undirected set — O(m^1.5) wedge checks, hub-safe), but each closed
    triangle then CREDITS ALL THREE corners via one explode, so the
    per-node counts sum to 3x the global count.

    Determinism: all counts are exact longs (joins + integer
    arithmetic, id-order tie-breaks in the orientation); c_v is ONE
    division — the SQL oracle replays the identical join plan.

    Output: (node long, degree long, triangles long, clustering
    double), one row per node with degree >= 2.
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    und = persist_intermediate(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    deg = persist_intermediate(
        und.select(F.col("_a").alias("_n"))
        .unionByName(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    e = (
        und.join(deg.select(F.col("_n").alias("_a"), F.col("_d").alias("_da")), "_a")
        .join(deg.select(F.col("_n").alias("_b"), F.col("_d").alias("_db")), "_b")
    )
    fwd = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    o = e.select(
        F.when(fwd, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(fwd, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
    )
    o2 = o.select(F.col("_u"), F.col("_v").alias("_v2"))
    wedges = o.join(o2, "_u").where(F.col("_v") < F.col("_v2"))
    tri = wedges.join(
        und,
        (F.col("_v") == F.col("_a")) & (F.col("_v2") == F.col("_b")),
        "left_semi",
    )
    credits = (
        tri.select(
            F.explode(F.array(F.col("_u"), F.col("_v"), F.col("_v2"))).alias("_n")
        )
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_t"))
    )
    out = (
        deg.where(F.col("_d") >= 2)
        .join(credits, "_n", "left")
        .select(
            F.col("_n").alias("node"),
            F.col("_d").alias("degree"),
            F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("triangles"),
            (
                (F.lit(2) * F.coalesce(F.col("_t"), F.lit(0))).cast("double")
                / (F.col("_d") * (F.col("_d") - F.lit(1))).cast("double")
            ).alias("clustering"),
        )
    )
    return out


def rich_club(
    edges: DataFrame,
    k_list: tuple = (1, 2, 4),
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Rich-club coefficient of an undirected graph at each degree
    threshold k: the edge density among nodes of degree > k —

        phi(k) = 2 E_k / (N_k (N_k - 1))

    Do the high-degree nodes (the template hubs of the near-dup graph)
    preferentially link to EACH OTHER? A rising phi(k) profile means
    hub templates form their own clique — contract them first; a flat
    profile means hubs bridge disjoint duplicate pockets (the
    [[triangle_stats]] transitivity number localized to the top of the
    degree distribution).

    Determinism: degrees, N_k, E_k are exact longs (dedup'd canonical
    edges, id-order normalization); phi is one division per k.
    Bit-replayable.

    Scale: one degree aggregate, one broadcast of the tiny k table,
    edge-side degree joins (two hash joins on node id); no per-k
    subgraph materializes. Output: (k long, n_nodes long, n_edges
    long, phi double — NULL when N_k < 2), one row per k, ascending.
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    und = persist_intermediate(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionByName(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    ks = edges.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(k_list)], "k long"
    )
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("_d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    da = deg.select(F.col("_n").alias("_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_d").alias("_db"))
    ej = und.join(da, "_a").join(db, "_b")
    ek = (
        ej.crossJoin(F.broadcast(ks))
        .where((F.col("_da") > F.col("k")) & (F.col("_db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    out = (
        ks.join(nk, "k", "left")
        .join(ek, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_nodes"), F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
        )
    )
    nn = F.col("n_nodes").cast("double")
    return out.select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(
            F.col("n_nodes") >= 2,
            F.lit(2.0) * F.col("n_edges").cast("double") / (nn * (nn - F.lit(1.0))),
        ).alias("phi"),
    )


def powerlaw_alpha(
    edges: DataFrame,
    d_min: int = 1,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Continuous-approximation MLE of the degree-distribution
    power-law exponent (Clauset-Shalizi-Newman eq. 3.1) over nodes
    with degree >= ``d_min``:

        alpha = 1 + n / sum_i ln(d_i / (d_min - 1/2))

    The one-number heavy-tail screen for the near-dup graph: alpha
    near 2 = extreme hubs dominate (a few templates connect
    everything — expect [[rich_club]] to confirm), alpha > 3 = tail
    thin enough that hub-aware special-casing is not worth it.

    Determinism: the log-sum folds over the DISTINCT-DEGREE histogram
    (m_d * ln(d / (d_min - 0.5)) per distinct degree, degree-ascending
    fold) — the fold state is max-degree-bounded, never node-count-
    bounded, and exact long counts feed fixed chains. Bit-replayable.

    Output one row: (n long, d_min long, alpha double — NULL when
    n = 0 or the log-sum is 0 — mean_deg double, max_deg long).
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    und = (
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionByName(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    hist = (
        deg.where(F.col("_d") >= int(d_min))
        .groupBy("_d")
        .agg(F.count("*").cast("long").alias("_m"))
    )
    term = F.col("_m").cast("double") * F.log(
        F.col("_d").cast("double") / F.lit(float(d_min) - 0.5)
    )
    g = hist.select(
        F.struct("_d", term.alias("_t")).alias("_e"),
        "_m",
        (F.col("_m") * F.col("_d")).cast("long").alias("_md"),
        "_d",
    ).agg(
        F.sum("_m").cast("long").alias("n"),
        F.sum("_md").cast("long").alias("_sumd"),
        F.max("_d").cast("long").alias("max_deg"),
        F.sort_array(F.collect_list("_e")).alias("_es"),
    )
    ls = F.aggregate(F.col("_es"), F.lit(0.0), lambda acc, e: acc + e["_t"])
    nd = F.col("n").cast("double")
    return g.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.lit(int(d_min)).cast("long").alias("d_min"),
        F.when((F.col("n") > 0) & (ls != 0), F.lit(1.0) + nd / ls).alias("alpha"),
        F.when(F.col("n") > 0, F.col("_sumd").cast("double") / nd).alias(
            "mean_deg"
        ),
        F.col("max_deg"),
    )


def role_reciprocity(df: DataFrame) -> DataFrame:
    """Weighted reciprocity of the corpus role-transition digraph
    (consecutive turns within a conversation define one directed
    role -> role edge):

        r = sum_{u != v} min(w_uv, w_vu) / sum_{u != v} w_uv

    (Squartini et al.'s weighted form) — does conversational flow
    return? r = 1 means every assistant->user volley comes back in
    equal measure; r near 0 means one-way pipelines (broadcast-style
    logs masquerading as dialogs — a transcript-quality smell the
    [[q_role_transitions]] matrix shows raw and this op scores).

    Determinism: transition counts are exact longs on the stable
    (ts, turn_idx) order; min/sums of longs; one division.
    Self-loops (u = v) are excluded from both sums. Bit-replayable.

    Scale: one window pass on the conv_id exchange, then a
    |roles|^2-cell self-join — label-cardinality bounded. Output one
    row: (n_edges long, w_total long, w_recip long, reciprocity
    double — NULL when no off-diagonal transitions).
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    trans = (
        df.select("conv_id", "ts", "turn_idx", F.col("role").alias("_u"))
        .withColumn("_v", F.lead("_u", 1).over(w))
        .where(F.col("_v").isNotNull() & (F.col("_u") != F.col("_v")))
        .groupBy("_u", "_v")
        .agg(F.count("*").cast("long").alias("_w"))
    )
    rev = trans.select(
        F.col("_u").alias("_v"),
        F.col("_v").alias("_u"),
        F.col("_w").alias("_wr"),
    )
    j = trans.join(rev, ["_u", "_v"], "left").select(
        "_u",
        "_v",
        "_w",
        F.coalesce(F.col("_wr"), F.lit(0)).cast("long").alias("_wr"),
    )
    g = j.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("_w").cast("long").alias("w_total"),
        F.sum(F.least(F.col("_w"), F.col("_wr"))).cast("long").alias("w_recip"),
    )
    return g.select(
        F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.col("w_total"), F.lit(0)).cast("long").alias("w_total"),
        F.coalesce(F.col("w_recip"), F.lit(0)).cast("long").alias("w_recip"),
        F.when(
            F.col("w_total") > 0,
            F.col("w_recip").cast("double") / F.col("w_total").cast("double"),
        ).alias("reciprocity"),
    )
