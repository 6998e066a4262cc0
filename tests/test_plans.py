"""Physical-plan invariants for the scale paths: the properties that make
an operator survive a 100x scale-up are plan shapes, not values — pin
them so a refactor that silently degrades the plan (a lost broadcast, a
surprise nested loop, a filter that stopped reaching the scan) fails CI
even while values stay correct.

Plan strings come from queryExecution().executedPlan() after an action-
free analysis; AQE leaves the asserted markers visible in the initial
plan. Assertions are deliberately coarse (marker present/absent, counts
bounded) so they survive Spark version cosmetics.
"""

import logging
import pathlib
import re
import sys
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import z_rad_spark
from z_rad_spark import session
from z_rad_spark.session import _MEMO_SIZE, get_spark, memo_plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=50):
    return spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} the and of common words here", f"src{i % 4}")
         for i in range(n)],
        "doc_id long, text string, source string",
    )


def test_quality_rules_has_no_exchange(spark):
    """The rule gate is a pure narrow map — it must stream through a scan
    with zero shuffles at any scale."""
    from z_rad_spark.operators.curation import gopher_quality_rules

    assert "Exchange" not in _plan(gopher_quality_rules(_docs(spark)))


def test_source_reputation_broadcasts_the_per_source_frame(spark):
    """The domain-level frame is tiny; the join back onto documents must
    be a broadcast, never a shuffled sort-merge join."""
    from z_rad_spark.operators.curation import source_reputation

    plan = _plan(source_reputation(_docs(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_no_nested_loop(spark):
    """Gram overlap is an equi-join on the gram key — a refactor that
    degrades it to a nested loop would be quadratic at corpus scale."""
    from z_rad_spark.operators.curation import decontaminate

    docs = _docs(spark)
    plan = _plan(decontaminate(docs.where("doc_id % 5 != 0"), docs.where("doc_id % 5 = 0")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shard_pack_has_no_global_sort_of_documents(spark):
    """The prefix sum must stay two-pass: per-bucket windows + a tiny
    offset frame. A single global window would show as one Sort over an
    Exchange SinglePartition of the full document set."""
    from z_rad_spark.operators.curation import shard_pack

    docs = spark.range(500).withColumnRenamed("id", "doc_id").withColumn(
        "n_tokens", F.lit(10).cast("long")
    )
    plan = _plan(shard_pack(docs, budget=100))
    # the only SinglePartition exchange allowed is the 256-row offset frame
    # (input: a bare Range scan), never the document side (project over range)
    assert "BroadcastHashJoin" in plan  # offsets joined back via broadcast
    for frag in plan.split("Exchange SinglePartition")[1:]:
        head = frag.strip().splitlines()
        # the subtree below the exchange is the per-bucket totals aggregate
        assert any("HashAggregate" in ln for ln in head[:4]), plan


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path):
    """Predicate + column pruning must reach the scan: a 2-column
    projection with a filter reads neither all columns nor all rows."""
    p = str(tmp_path / "ev.parquet")
    spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 9).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.5).alias("value"),
    ).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("user_id") == 3).select("event_id", "user_id")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull(user_id)" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "value" not in read_schema and "event_type" not in read_schema


def test_hashed_embedding_single_shuffle(spark):
    """One explode + one map-side-combined groupBy: exactly one Exchange
    (hashpartitioning on the doc key)."""
    from z_rad_spark.operators.text import hashed_embedding

    plan = _plan(hashed_embedding(_docs(spark), dims=8))
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()  # map-side partial aggregation present


def _turns(spark, n_convs=4, n_turns=30):
    rows = [
        (f"c{c}", t, f"2024-01-{(t % 27) + 1:02d} 0{t % 10}:00:00", float((c * 7 + t) % 23))
        for c in range(n_convs)
        for t in range(n_turns)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, ts_s string, signal double"
    ).select("conv_id", "turn_idx", F.to_timestamp("ts_s").alias("ts"), "signal")


def test_hist_asof_never_expands_turns_across_the_grid(spark):
    """hist_asof and quantile_state_asof must ride the compacted value
    histogram: the only non-equi broadcast join allowed is (iv <= gi)
    over ALREADY-compacted rows. A join whose condition touches the raw
    `ts` column is the O(turns x cutoffs) expansion the module contract
    forbids."""
    from z_rad_spark.operators import asof, firstorder_sql

    cutoffs = [f"2024-01-{d:02d} 00:00:00" for d in range(2, 31)]
    for df in (
        firstorder_sql.hist_asof(_turns(spark), spark, cutoffs, 6),
        asof.quantile_state_asof(_turns(spark), spark, cutoffs),
    ):
        for line in _plan(df).splitlines():
            if "Join" in line:
                assert "ts#" not in line, line


def _count_nodes(plan: str, node: str) -> int:
    """Operator lines of ``plan`` whose node name is ``node``."""
    return re.findall(r"^[ :+\-*()\d]*(\w+)", plan, re.M).count(node)


def test_firstorder_asof_plans_read_one_conv_id_layout(spark):
    """The value-histogram consumers shuffle the turns once (the
    map-side-combined compaction) and the compacted rows once (by
    conv_id); every window and groupBy after that reads that
    partitioning and one value- (grey-) ordered sort. Pinned on the
    29-cutoff daily grid: hash exchanges, Window operators, Sorts."""
    from z_rad_spark.operators import asof, firstorder_sql

    cutoffs = [f"2024-01-{d:02d} 00:00:00" for d in range(2, 31)]
    turns = _jvm_turns(spark)
    shapes = {
        "stats_asof": (firstorder_sql.stats_asof(turns, spark, cutoffs), 2, 1),
        "hist_asof": (firstorder_sql.hist_asof(turns, spark, cutoffs, 6), 2, 2),
        "quantile_state_asof": (asof.quantile_state_asof(turns, spark, cutoffs), 1, 1),
    }
    for name, (df, windows, sorts) in shapes.items():
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 2, (name, plan)
        n_window, n_sort = _count_nodes(plan, "Window"), _count_nodes(plan, "Sort")
        if name == "quantile_state_asof":
            assert (n_window, n_sort) == (windows, sorts), (name, plan)
        else:
            assert n_window <= windows and n_sort <= sorts, (name, plan)
        joins = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
        assert len(joins) == 1 and re.search(r"\(iv#\d+ <= gi#\d+\)", joins[0]), (name, plan)


def _code(path: pathlib.Path) -> str:
    """``path``'s Python source without comments and statement-level
    strings (docstrings), its tokens joined with no whitespace, so a
    spelling split across lines still reads as one string."""
    import io
    import tokenize

    out, line_start = [], True
    for tok in tokenize.generate_tokens(io.StringIO(path.read_text()).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT):
            line_start = True
            continue
        if tok.type in (tokenize.COMMENT, tokenize.NL, tokenize.ENDMARKER):
            continue
        if not (line_start and tok.type == tokenize.STRING):
            out.append(tok.string)
        line_start = False
    return "".join(out)


# Input conventions the oracles replay, spelled once in operators/exprs.py
_CONVENTIONS = {
    "words": re.compile(re.escape("F.split(F.lower(F.trim(")),
    "norm_words": re.compile(re.escape("F.split(normalize_text(")),
    "normalize_text": re.compile(r'regexp_replace\(.*?,r"\\s\+"," "\)'),
    "epoch_us": re.compile(r'unix_micros\(F\.col\([^()]*\)\.cast\("timestamp"\)\)'),
    "mix31": re.compile("48271"),
}


def test_input_conventions_are_spelled_only_in_exprs():
    """No library code outside exprs.py restates an oracle-replayed input
    convention (word tokens, normalized text, epoch microseconds, the
    31-bit mixer), and only asof.py compares a column against ``as_of``:
    each keeps one definition. Docstrings and comments may name them."""
    pkg = pathlib.Path(z_rad_spark.__file__).parent
    code = {p.relative_to(pkg).as_posix(): _code(p) for p in sorted(pkg.rglob("*.py"))}
    hits = {
        (name, conv)
        for name, src in code.items()
        for conv, pat in _CONVENTIONS.items()
        if pat.search(src)
    }
    assert {n for n, _ in hits} == {"operators/exprs.py"}, sorted(hits)
    assert {c for _, c in hits} == set(_CONVENTIONS)
    as_of = {n for n, src in code.items() if '<=F.col("as_of")' in src}
    assert as_of == {"operators/asof.py"}, as_of


def test_mix31_matches_its_numpy_twin(spark):
    """The column mixer and its NumPy twin agree: the hash contract
    between the sketches and their streaming replays."""
    import numpy as np

    from z_rad_spark.operators.exprs import mix31, mix31_np

    rng = np.random.default_rng(13)
    xs = [0, 1, 12345, 2**31 - 2] + rng.integers(-(2**47), 2**47, 10_000).tolist()
    got = (
        spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x long")
        .select("i", mix31(F.col("x")).alias("h"))
        .orderBy("i")
        .collect()
    )
    want = mix31_np(np.array(xs, dtype=np.int64))
    assert [r["h"] for r in got] == want.tolist()
    assert [mix31_np(x) for x in xs[:4]] == want[:4].tolist()


def test_kmeans_assignment_is_shuffle_free(spark):
    """Literal-codebook argmax: zero Exchange between the scan and the
    assignment projection (the old crossjoin+row_number formulation
    shuffled N x k rows on vec_id)."""
    from z_rad_spark.operators.similarity import kmeans_assign

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 1.0, 0.0]), (1, [0.0, 1.0, 0.0, 1.0])]
    plan = _plan(kmeans_assign(vecs, centroids=cents))
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_ivf_assignment_subtree_has_no_exchange(spark):
    """ivf_topk's corpus-side cell assignment must stay narrow: the only
    joins in the whole plan are broadcast (probe equi-join), and the only
    Exchange is the final per-query top-k window over probed candidates."""
    from z_rad_spark.operators.similarity import ivf_topk

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.25, 1.0])], "query_id long, query_vec array<double>"
    )
    plan = _plan(ivf_topk(vecs, qs, n_centroids=4, n_probe=2, k=3))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one exchange for the top-k window, one SinglePartition feeding the
    # broadcast probe side at most — never a hashpartitioning on vec_id
    assert "hashpartitioning(vec_id" not in plan


def test_semdedup_plan_shape(spark):
    """semdedup (r6 shape): ONE cluster_id exchange right after the
    literal-codebook argmax so every consumer (window sizes, both pairing
    sides, keeper frame) shares the assignment subtree via ReuseExchange;
    cluster sizes come from a Window over that same partitioning (no
    second assignment copy); the within-cluster pairing stays an
    equi-join — never a cartesian product."""
    from z_rad_spark.operators.similarity import semdedup

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 1.0, 0.0]), (1, [0.0, 1.0, 0.0, 1.0])]
    plan = _plan(semdedup(vecs, threshold=0.99, centroids=cents))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the pairing shuffle is keyed on cluster_id (bounded by the
    # codebook), never an all-pairs join; the only vec_id-keyed exchange
    # allowed is the final keeper left-join
    assert "hashpartitioning(cluster_id" in plan
    # sizes ride a Window on the exchange's own partitioning, not a
    # groupBy + broadcast-join that would re-derive the assignment
    assert "Window" in plan
    # every assignment subtree in the final plan must be canonically
    # identical so runtime stage reuse computes the argmax once: all
    # scans carry the same pushed isnotnull(cluster_id)-bearing filter
    # count as the exchange count on cluster_id (3 static copies max:
    # keeper + two pairing sides, deduped at runtime)
    n_scans = plan.count("Scan ExistingRDD") + plan.count("Scan parquet")
    assert n_scans <= 3, plan


def test_dsir_ratio_table_broadcasts_onto_tokens(spark):
    """The per-bucket log-ratio frame is bounded by n_buckets; the join
    back onto the raw token stream must be a broadcast hash join — a
    sort-merge there would shuffle every token at corpus scale."""
    from z_rad_spark.operators.curation import dsir_weights

    docs = _docs(spark)
    plan = _plan(dsir_weights(docs, docs.where("source = 'src0'"), n_buckets=64))
    assert "BroadcastHashJoin" in plan
    # the only sort-merge allowed is the FullOuter merge of the two
    # bounded (<= n_buckets rows) per-bucket frames; Spark cannot
    # broadcast a full outer, and the inputs are bounded anyway
    smjs = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert all("FullOuter" in l for l in smjs), smjs
    assert "CartesianProduct" not in plan


def test_domain_mix_never_shuffles_document_rows(spark):
    """Only the tiny per-source count aggregate may exchange; the
    document stream itself joins by broadcast and stays unshuffled, so
    the sample scales as one narrow pass."""
    from z_rad_spark.operators.curation import domain_mix_sample

    plan = _plan(domain_mix_sample(_docs(spark), {"src0": 2.0, "src1": 1.0}, 0.5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Exchange in the plan belongs to the count-aggregate subtrees
    # (hashpartitioning on source / single partition), never on doc_id
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line, line


def test_line_dedup_and_dup_spans_join_on_hash_keys(spark):
    """Both dedup passes must join lines/grams on 32-hex md5 keys (never
    text bodies) and must not degrade to nested loops."""
    from z_rad_spark.operators.dedup import dup_span_stats, line_dedup

    for df in (line_dedup(_docs(spark)), dup_span_stats(_docs(spark), n=3)):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_pq_codes_assignment_is_narrow(spark):
    """PQ assignment must be a chain of narrow projections over plan-
    literal codebooks: zero Exchange, zero Join, zero Window between the
    scan and the (codes, recon_err) projection."""
    from z_rad_spark.operators.similarity import pq_codes

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cbs = [
        [[0.0] * 4, [1.0] * 4],
        [[0.5] * 4, [2.0] * 4],
    ]
    plan = _plan(pq_codes(vecs, m=2, k=2, codebooks=cbs))
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_pq_adc_scan_side_stays_uncompressed_free(spark):
    """ADC top-k: the corpus side must reach the distance sum through its
    int codes only — the query side (with its lookup tables) is broadcast
    (the cosine_topk small-probe convention), and the only exchange is
    the final bounded per-query top-k window. Never a shuffle keyed on
    vec_id, never a cartesian product."""
    from z_rad_spark.operators.similarity import pq_adc_topk

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.25, 1.0, 0.0, 2.0, 1.5, 0.75])],
        "query_id long, query_vec array<double>",
    )
    cbs = [
        [[0.0] * 4, [1.0] * 4],
        [[0.5] * 4, [2.0] * 4],
    ]
    plan = _plan(pq_adc_topk(vecs, qs, m=2, k=2, topk=3, codebooks=cbs))
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny probe side, by design
    assert "hashpartitioning(vec_id" not in plan


def test_quality_classifier_is_pure_map(spark):
    """Model-based filtering is embarrassingly parallel: the scoring plan
    must contain no Exchange at all — a pure projection over the scan."""
    from z_rad_spark.operators.curation import quality_classifier

    plan = _plan(quality_classifier(_docs(spark), dims=16))
    assert "Exchange" not in plan and "Join" not in plan


def test_bigram_logprob_builds_triples_without_a_lag_window(spark):
    """The (pos, token, prev) table must come from the token array
    narrowly (transform + inline) — a lag() formulation would add a
    per-document Window sort before the counts even start. The only
    wide ops allowed are the count groupBys, the token-keyed joins, and
    the final per-doc fold; the totals frame must broadcast."""
    from z_rad_spark.operators.curation import bigram_logprob

    plan = _plan(bigram_logprob(_docs(spark)))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivfpq_corpus_pass_is_single_and_narrow(spark):
    """IVF-PQ's corpus side must compute coarse cell AND codes in one
    narrow projection chain: no shuffle keyed on vec_id anywhere, no
    cartesian/sort-merge join — the probe side broadcasts and the only
    exchange is the bounded per-query top-k window."""
    from z_rad_spark.operators.similarity import ivfpq_topk

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 0.5 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.25, 1.0, 0.0, 2.0, 1.5, 0.75])],
        "query_id long, query_vec array<double>",
    )
    cbs = [[[0.0] * 4, [1.0] * 4], [[0.5] * 4, [2.0] * 4]]
    cents = [(0, [1.0] * 8), (1, [0.0, 1.0] * 4)]
    plan = _plan(
        ivfpq_topk(vecs, qs, n_probe=1, m=2, k=2, topk=3, codebooks=cbs, centroids=cents)
    )
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan
    assert "BroadcastHashJoin" in plan  # probe equi-join on cent_id


def test_bm25_is_an_inverted_index_probe(spark):
    """BM25's plan must be the probe shape: query terms and corpus stats
    broadcast (no sort-merge join anywhere), the token filter applied
    before the tf aggregation, and no cartesian product — the only
    NestedLoop allowed is the one-row stats broadcast."""
    from z_rad_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"hash join scan w{i}") for i in range(30)], "doc_id long, text string"
    )
    plan = _plan(bm25_topk(docs, [(0, ["hash", "scan"])], topk=5))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # query-term probe join
    # exactly ONE corpus explode: tf and df share the postings lineage
    # (a groupBy-on-token sibling would re-explode the whole corpus),
    # and the only other corpus pass is the narrow stats aggregate
    assert plan.count("Generate explode") == 1
    # the term prune is applied to the exploded tokens (expr-id form:
    # "Filter token#N IN (hash,scan)")
    import re

    assert re.search(r"token#\d+ IN\b", plan) or re.search(r"token#\d+ INSET\b", plan)


def test_cdc_chunk_is_shuffle_free(spark):
    """Content-defined chunking must be pure per-row array expressions
    plus one generate — zero Exchange at any corpus size."""
    from z_rad_spark.operators.curation import cdc_chunk

    df = spark.createDataFrame([(0, "a b c d e f g h")], "doc_id long, text string")
    plan = cdc_chunk(df, boundary_bits=3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" in plan   # the single posexplode


def test_render_chat_template_single_exchange_no_window(spark):
    """Chat rendering is one groupBy(conv_id) aggregate: exactly one
    Exchange, no Window, no Python UDFs."""
    import datetime as dt

    from z_rad_spark.operators.sessionize import render_chat_template

    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, dt.datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = render_chat_template(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rrf_fuse_no_cartesian(spark):
    """Fusion joins the bounded top-k frames on (query, item) — never a
    cartesian/nested-loop product."""
    from z_rad_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(0, 1, 1)], "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([(0, 2, 1)], "query_id long, doc_id long, rank long")
    plan = rrf_fuse([a, b])._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bench_timing_action_defeats_catalyst_pruning(spark):
    """The benchmark contract (BASELINE.md round-4 updates 3-4): a bare
    count() is NOT a valid timing action — Catalyst removes Window nodes
    (cardinality-preserving) and unique-key left joins from a counted
    plan, so the timed region can exclude the operator itself. The
    per-column count aggregate bench.py uses must keep every node.

    Pinned on the worst historical offender (the as-of family, whose
    whole operator is Window nodes) using the same plan-level signal the
    2026-08-18 audit used."""
    import datetime as dt

    from z_rad_spark.operators.asof import asof_state

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, dt.datetime(2024, 1, 1), 1.0),
         ("c1", 1, "tool", "ok", "search", dt.datetime(2024, 1, 1, 0, 5), 2.0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, signal double",
    )
    df = asof_state(turns, spark, ["2024-01-01 01:00:00"], value_cols=["signal"])

    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    forced = df.agg(
        F.count(F.lit(1)), *[F.count(df[c]) for c in df.columns]
    )._jdf.queryExecution().optimizedPlan().toString()
    # r5 bench action: one aggregate hashing every column's VALUE
    hashed = df.agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(struct(*)))")
    )._jdf.queryExecution().optimizedPlan().toString()

    # the hazard is real on this Spark version (count() loses the op)...
    assert "Window" not in counted
    # ...and both unprunable actions restore it
    assert "Window" in forced
    assert "Window" in hashed


def test_asof_backward_path_plans_no_extra_nodes(spark):
    """VERDICT r4 #3 closure: the direction-variant refactor must cost the
    backward path NOTHING — with plain in-memory inputs, backward
    asof_join plans exactly ONE Exchange + ONE Sort + ONE Window (the
    sort-merge as-of itself) and no join; 'nearest' adds exactly one more
    Sort+Window on the SAME partitioning, never a second Exchange. The
    r4->r5 driver-JSON timing wobble on q_asof_state/q_asof_enrich was
    host-window noise: the canonical executed plans of the r3 and r5
    backward formulations differ only in a collapsed-vs-stacked trivial
    Project (diffed 2026-08-19, BASELINE.md round-5 updates)."""
    import datetime as dt

    from z_rad_spark.operators.asof import asof_join

    turns = spark.createDataFrame(
        [("c1", 0, dt.datetime(2024, 1, 1), 1.0),
         ("c1", 1, dt.datetime(2024, 1, 1, 0, 5), 2.0)],
        "conv_id string, turn_idx int, ts timestamp, signal double",
    )
    probes = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 1))], "conv_id string, as_of timestamp"
    )
    for direction, max_sorts, max_windows in (
        ("backward", 1, 1),
        ("forward", 1, 1),
        ("nearest", 2, 2),
    ):
        plan = _plan(
            asof_join(turns, probes, ["signal"], direction=direction)
        )
        assert plan.count("Exchange hashpartitioning") == 1, (direction, plan)
        assert plan.count("+- Sort ") <= max_sorts, (direction, plan)
        assert plan.count("Window") <= max_windows * 2, (direction, plan)
        assert "Join" not in plan, (direction, plan)


@pytest.mark.parametrize("method, most", [("linear", (2, 2, 2)), ("cubic", (2, 3, 3))])
def test_backfill_rides_the_asof_carry(spark, method, most):
    """backfill plans asof's carry: one exchange for the grid span, one for
    the union (cubic's lag/lead window shares it), one Sort + Window per
    scan direction plus cubic's lag/lead pair. The copy it replaced
    planned linear at (Exchange, Sort, Window) = (2, 2, 4), cubic at
    (2, 5, 9)."""
    from z_rad_spark.operators.backfill import backfill

    plan = _plan(backfill(_jvm_turns(spark), 3600, method=method))
    nodes = [line.lstrip(" :+-").split(" ")[0] for line in plan.splitlines()]
    got = tuple(nodes.count(n) for n in ("Exchange", "Sort", "Window"))
    assert all(g <= m for g, m in zip(got, most)), (got, plan)


def _turns_df(spark, n=64):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i % 4}" for i in range(n)],
            "turn_idx": list(range(n)),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="m"),
            "signal": [float(1 + i % 9) for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


def test_expanding_zscore_single_exchange(spark):
    """All three running sums must ride ONE Window node over one
    conv_id exchange — a refactor that splits them into stacked Window
    sorts triples the sort cost at 10^12 turns."""
    from z_rad_spark.operators.sessionize import with_expanding_zscore

    plan = _plan(with_expanding_zscore(_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_cusum_is_two_stacked_windows_one_exchange(spark):
    """The CUSUM closed form costs one exchange + one sort; the second
    Window (running min over the prefix sum) must reuse the first's
    partitioning — a second Exchange would mean the closed form lost its
    point."""
    from z_rad_spark.operators.drift import with_cusum

    plan = _plan(with_cusum(_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert "SortMergeJoin" not in plan


def test_hamming_topk_broadcasts_packed_queries(spark):
    """The packed query side is queries x 16 bytes — it must broadcast;
    the corpus side must stay a narrow scan (no shuffle before the
    bounded per-query top-k window)."""
    import pandas as pd

    from z_rad_spark.operators.similarity import hamming_topk

    pdf = pd.DataFrame(
        {
            "vec_id": range(20),
            "embedding": [[float((i + j) % 5 - 2) for j in range(64)] for i in range(20)],
        }
    )
    vecs = spark.createDataFrame(pdf)
    qs = vecs.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(hamming_topk(vecs, qs, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_covariance_no_join_no_explode(spark):
    """The one-pass Gram must never materialize the N x d element table:
    no Join and no Generate(explode) in the plan — only mapInPandas
    partials plus one tiny groupBy((i, j)) exchange."""
    import pandas as pd

    from z_rad_spark.operators.similarity import embedding_covariance

    pdf = pd.DataFrame(
        {
            "vec_id": range(16),
            "embedding": [[float((i * j) % 7 - 3) for j in range(64)] for i in range(16)],
        }
    )
    plan = _plan(embedding_covariance(spark.createDataFrame(pdf)))
    assert "Join" not in plan
    assert "Generate" not in plan
    assert plan.count("Exchange") == 1


def _roled_turns_df(spark, n=64):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i % 4}" for i in range(n)],
            "turn_idx": list(range(n)),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="m"),
            "signal": [float(1 + i % 9) for i in range(n)],
            "role": [("user", "assistant", "tool", "system")[i % 4] for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


_SPLIT_OPS = ("ks_drift", "kuiper_drift", "cvm_drift", "w1_drift", "mw_drift",
              "ad_drift", "ansari_bradley", "energy_drift")


def _two_class_op_frame(spark, name):
    from z_rad_spark.operators import drift, encoding

    if name in _SPLIT_OPS:
        return getattr(drift, name)(_roled_turns_df(spark), split_ts="2024-01-01 00:30:00")
    scored = _roled_turns_df(spark).select(
        "role",
        (F.col("signal") / 10).alias("prob"),
        (F.col("turn_idx") % 3 == 0).alias("label_true"),
    )
    if name == "auc_binary":
        return drift.auc_binary(scored, "prob", "label_true", group_col="role")
    if name == "cliffs_delta":
        return drift.cliffs_delta(scored, flag_col="label_true", value_col="prob")
    return encoding.score_ks(scored)


@pytest.mark.parametrize(
    "name", _SPLIT_OPS + ("auc_binary", "cliffs_delta", "score_ks")
)
def test_two_class_ecdf_preaggregates_before_window(spark, name):
    """Every rank/ECDF test reads the compacted two-class histogram: it
    must collapse to |groups| x |values| rows BEFORE any window runs
    (the whole point of the shape at 10^12 turns) — the lowest Window
    node sits above a HashAggregate — and join nothing. energy_drift
    runs no window at all; its pair grid is the one join. The running
    sums, totals and next value ride one value-ordered Window operator
    (score_ks adds its row_number pick)."""
    plan = _plan(_two_class_op_frame(spark, name))
    assert _count_nodes(plan, "Window") == {"energy_drift": 0, "score_ks": 2}.get(name, 1), plan
    lines = plan.splitlines()
    wins = [i for i, ln in enumerate(lines) if "Window" in ln]
    aggs = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    joins = [ln for ln in lines if "Join" in ln]
    if name == "energy_drift":
        assert wins == [] and joins
        return
    assert wins and aggs and max(aggs) > max(wins), "\n".join(lines)
    assert joins == []


def test_split_predicate_lives_only_in_is_ref():
    """The reference/monitoring split is ONE predicate, drift._is_ref:
    no other code in operators/ builds the split literal itself."""
    import ast

    root = pathlib.Path(z_rad_spark.__file__).parent / "operators"
    hits = []
    for p in sorted(root.glob("*.py")):
        tree = ast.parse(p.read_text())
        for top in tree.body:
            if isinstance(top, ast.FunctionDef) and (p.name, top.name) == ("drift.py", "_is_ref"):
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "lit"
                    and any(isinstance(a, ast.Name) and a.id == "split_ts" for a in node.args)
                ):
                    hits.append(f"{p.name}:{node.lineno}")
    assert hits == []


def test_mi_and_woe_are_single_pass_aggregates(spark):
    """The conditional-count grids must be ONE map-side-combined
    aggregate — zero windows, zero joins (woe_iv's explode runs over the
    single output row, not the input)."""
    from z_rad_spark.operators.drift import mi_association
    from z_rad_spark.operators.encoding import woe_iv

    plan = _plan(mi_association(_roled_turns_df(spark), split_ts="2024-01-01 00:30:00"))
    assert plan.count("Window") == 0
    assert "Join" not in plan
    plan = _plan(woe_iv(_roled_turns_df(spark)))
    assert plan.count("Window") == 0
    assert "Join" not in plan


def test_role_transitions_reuses_conv_exchange(spark):
    """The lag window and the groupBy share conv_id — Catalyst must
    reuse the single hash exchange (a second Exchange would double the
    shuffle for no reason)."""
    from z_rad_spark.operators.sessionize import role_transitions

    plan = _plan(role_transitions(_roled_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_autocorr_reuses_conv_exchange(spark):
    """All |lags| lag windows must ride ONE Window node over one conv_id
    exchange, and the groupBy must reuse that partitioning."""
    from z_rad_spark.operators.sessionize import autocorr_features

    plan = _plan(autocorr_features(_roled_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_expanding_target_encoding_single_exchange(spark):
    """Past-only running sums over (conv_id, role): one exchange, one
    Window node."""
    from z_rad_spark.operators.sessionize import with_expanding_target_encoding

    plan = _plan(with_expanding_target_encoding(_roled_turns_df(spark)))
    assert plan.count("Exchange") <= 2  # (conv,role) grain may re-key
    assert plan.count("Window") == 1


def test_loo_encoding_has_no_category_window(spark):
    """The global encoder must be the two-pass broadcast pattern — NO
    window partitioned by the category (that is the low-cardinality
    skew trap: all of 'user' in one task at 10^12 turns), and the joins
    back must be broadcasts, never sort-merge."""
    from z_rad_spark.operators.encoding import with_loo_target_encoding

    plan = _plan(with_loo_target_encoding(_roled_turns_df(spark)))
    assert plan.count("Window") == 0
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_profile_operators_single_exchange(spark):
    """signal_trend and response_latency: one conv_id exchange shared by
    the window and the groupBy; temporal_profile: one aggregate, zero
    windows, zero joins."""
    from z_rad_spark.operators.profile import (
        response_latency,
        signal_trend,
        temporal_profile,
    )

    plan = _plan(signal_trend(_roled_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    plan = _plan(response_latency(_roled_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    plan = _plan(temporal_profile(_roled_turns_df(spark)))
    assert plan.count("Window") == 0
    assert "Join" not in plan


def test_conversation_stats_table_one_exchange_per_build(spark):
    """A tabled member is one window projection + one groupBy(conv_id):
    one hash exchange and no join (changepoint used to join a size
    aggregate back). The fused conversation_features adds only the
    Spearman frame's exchange."""
    from z_rad_spark.operators import profile

    plan = _plan(profile.changepoint(_roled_turns_df(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    plan = _plan(profile.theil_sen_trend(_roled_turns_df(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    plan = _plan(profile.conversation_features(_roled_turns_df(spark)))
    assert plan.count("Exchange hashpartitioning") == 2


def test_conversation_stats_shared_turn_column_must_match():
    """Two rows may share a turn-level column only with the same SQL
    text: a trend on one signal and an autocorrelation on another would
    silently read one of them."""
    from z_rad_spark.operators import convstats

    with pytest.raises(ValueError, match="_x"):
        convstats.build(None, convstats.trend("signal"), convstats.autocorr("score"))


def test_equal_frequency_bins_document_pass_is_broadcast_map(spark):
    """The document-side pass must be a broadcast join (the bins frame
    is |distinct values| rows); the only SinglePartition exchange allowed
    feeds the cumulative window over the COMPACTED histogram aggregate,
    never the raw document set."""
    from z_rad_spark.operators.curation import equal_frequency_bins

    plan = _plan(equal_frequency_bins(_docs(spark).withColumn(
        "n_chars", F.length("text")
    )))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        head = frag.strip().splitlines()
        assert any("HashAggregate" in ln for ln in head[:4]), plan


def test_projections_are_pure_narrow_maps(spark):
    """random_project / pca_project must be zero-shuffle scans: no
    Exchange, no Join, no Window — one parsed chain per output dim."""
    import pandas as pd

    from z_rad_spark.operators.similarity import pca_project, random_project

    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(8), "embedding": [[float(i + j) for j in range(6)] for i in range(8)]}
        )
    )
    for built in (
        random_project(df, dim=6, out_dim=2),
        pca_project(df, [0.0] * 6, [[1.0, 0, 0, 0, 0, 0], [0, 1.0, 0, 0, 0, 0]]),
    ):
        plan = _plan(built)
        assert "Exchange" not in plan
        assert "Join" not in plan and "Window" not in plan


def test_rank_family_reuses_conv_exchange(spark):
    """rank-normalize / spearman ride midrank windows keyed on conv_id
    (plus the per-(conv, value) tie window — same key prefix): no join,
    and the exchange count stays bounded (value-keyed + conv-keyed),
    never one per window."""
    from z_rad_spark.operators.sessionize import (
        spearman_trend,
        with_rank_normalize,
    )

    plan = _plan(with_rank_normalize(_roled_turns_df(spark)))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3
    plan = _plan(spearman_trend(_roled_turns_df(spark)))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 4


def test_role_runs_two_windows_one_exchange_family(spark):
    """Gaps-and-islands: the (conv) and (conv, role) row_number windows
    plus two aggregates — no join anywhere."""
    from z_rad_spark.operators.sessionize import role_run_stats

    plan = _plan(role_run_stats(_roled_turns_df(spark)))
    assert "Join" not in plan
    assert plan.count("Window") == 2


def test_vocab_growth_shuffles_token_level_once(spark):
    """The explode must stay narrow; the only exchanges are the
    (conv, token) first-occurrence window, the per-turn regroup, and
    the conv running sum — no join, no cartesian."""
    from z_rad_spark.operators.sessionize import with_vocab_growth

    df = _roled_turns_df(spark).withColumn(
        "text", F.concat_ws(" ", F.lit("tok"), F.col("turn_idx").cast("string"))
    )
    plan = _plan(with_vocab_growth(df))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3


def test_robust_scale_one_exchange_no_join(spark):
    """Both median locations ride rank windows whose keys are satisfied
    by ONE conv_id hash exchange — no join, no per-group collect."""
    from z_rad_spark.operators.sessionize import with_robust_scale

    plan = _plan(with_robust_scale(_roled_turns_df(spark)))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_ewm_smooth_single_window_node(spark):
    """The truncated EWMA is `lookback` LAG reads in ONE window node on
    one conv_id exchange — a refactor that splits it into per-lag
    windows or adds a self-join would multiply the scale cost."""
    from z_rad_spark.operators.sessionize import with_ewm_smooth

    plan = _plan(with_ewm_smooth(_roled_turns_df(spark)))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_pmi_joins_stay_broadcast(spark):
    """The unigram/total frames are vocab-sized: every join onto the
    bigram aggregate must broadcast; nothing may degrade to a
    sort-merge join or nested loop over the corpus-scale side."""
    from z_rad_spark.operators.text import pmi_collocations

    docs = _docs(spark).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    plan = _plan(pmi_collocations(docs, min_count=1))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ngram_novelty_no_nested_loop(spark):
    """First-seen join is an equi-join on the gram key over two frames
    already partitioned on gram — never a nested loop, and the
    exchange count stays bounded (distinct, first-seen agg, join
    alignment, final day rollup)."""
    from z_rad_spark.operators.text import ngram_novelty

    df = _roled_turns_df(spark).withColumn(
        "text", F.concat_ws(" ", F.lit("tok"), F.col("turn_idx").cast("string"))
    )
    plan = _plan(ngram_novelty(df))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 4


def test_source_concentration_two_aggregates_no_join(spark):
    """One corpus-scale (group, source) aggregate, then a rollup over
    the tiny per-source frame — two exchanges, no join anywhere."""
    from z_rad_spark.operators.curation import source_concentration

    docs = _docs(spark).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    plan = _plan(source_concentration(docs))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_ppl_buckets_window_on_compacted_histogram_only(spark):
    """The per-language quantile window must run on the compacted
    (lang, nll6) histogram, never on the document frame: the plan's
    Window nodes sit strictly downstream of the histogram aggregate,
    and the cutoff frame joins back via broadcast (one row/language)."""
    from z_rad_spark.operators.curation import perplexity_buckets

    docs = _docs(spark).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    out = perplexity_buckets(docs)
    out.collect()  # the reuse pins need the FINAL adaptive plan
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # the cuts frame (one row per language) must come back as a broadcast
    # hash join, not a shuffled sort-merge join
    assert "BroadcastHashJoin" in plan
    # the scored frame feeds both the histogram branch and the output
    # join; at runtime the shared bigram-chain exchanges must be REUSED,
    # not recomputed (textual duplication in the logical tree is fine,
    # a second execution of the corpus-scale chain is not)
    assert "ReusedExchange" in plan
    # every Window partitions by lang over the compacted histogram; a
    # window keyed on doc-level columns would mean the quantile sort ran
    # on the raw document frame
    for frag in plan.split("Window [")[1:]:
        assert "lang" in frag.split("windowspecdefinition")[1][:120]
    # the running count and the total share one Window operator
    assert _count_nodes(plan.split("== Initial Plan ==")[0], "Window") == 1


def test_js_and_w1_drift_plan_shapes(spark):
    """js_drift is PSI's shape: ONE map-side-combined aggregate, zero
    windows, zero joins. w1_drift is KS's shape: per-value pre-agg
    BEFORE any window (cum counts + lead run on the compacted frame),
    no join."""
    from z_rad_spark.operators.drift import js_drift, w1_drift

    plan = _plan(js_drift(_roled_turns_df(spark), split_ts="2024-01-01 00:30:00"))
    assert plan.count("Window") == 0
    assert "Join" not in plan

    plan = _plan(w1_drift(_roled_turns_df(spark), split_ts="2024-01-01 00:30:00"))
    assert 1 <= plan.count("Window") <= 2
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_page_hinkley_single_exchange(spark):
    """The Page-Hinkley window stack (running mean -> prefix deviation
    sum -> running min) must ride ONE conv_id exchange like CUSUM; a
    second Exchange means the stacked specs stopped sharing the sort."""
    from z_rad_spark.operators.drift import with_page_hinkley

    plan = _plan(with_page_hinkley(_turns_df(spark)))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_arrival_stats_one_window_no_cartesian(spark):
    """The gap side is one lag window sharing the conv_id exchange with
    its groupBy; the hourly side pre-compacts to (conv, hour) counts —
    only ONE Window may exist in the whole plan and no cartesian/
    nested-loop join anywhere."""
    from z_rad_spark.operators.profile import arrival_stats

    plan = _plan(arrival_stats(_turns_df(spark)))
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_count_encode_rank_on_compacted_frame_broadcast_back(spark):
    """The rank window runs on the |categories| aggregate only (one
    Window, downstream of a HashAggregate) and the encoded frame comes
    back via broadcast — a SortMergeJoin would shuffle the full input
    on a low-cardinality key."""
    from z_rad_spark.operators.encoding import count_frequency_encode

    docs = _docs(spark).withColumn("source", (F.col("doc_id") % 5).cast("string"))
    plan = _plan(count_frequency_encode(docs, "source"))
    assert plan.count("Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dup_survivors_no_per_cluster_window(spark):
    """The survivor pick must be a groupBy MIN over the (-n_toks, id)
    struct — a per-cluster Window would single-task a mega-cluster. No
    Window node may exist anywhere in the plan (the cluster assignment
    itself is joins + aggregates only)."""
    from z_rad_spark.operators.dedup import dup_survivors

    docs = _docs(spark)
    plan = _plan(dup_survivors(docs, n=3, n_hashes=8, band_size=4))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_pool_is_bounded_before_grouped_map(spark):
    """The grouped-map kernel must see only the bounded cosine top-pool
    rows: the plan needs the per-query rank Window + its filter BELOW
    FlatMapGroupsInPandas, the query side broadcast, and no
    SortMergeJoin for the broadcastable sides."""
    from z_rad_spark.operators.similarity import mmr_topk

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": range(30),
            "embedding": [[float((i * 7 + j) % 5 - 2) for j in range(8)] for i in range(30)],
        }
    )
    vecs = spark.createDataFrame(pdf)
    qdf = vecs.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(mmr_topk(vecs, qdf, k=3, pool=8))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # the pool filter (rank <= pool) must exist upstream of the kernel
    assert "Window" in plan


def test_lexical_diversity_no_window_bounded_collect(spark):
    """One (doc, token) aggregate + one doc aggregate + the length join:
    no Window node (the per-doc total is an in-aggregate sum) and no
    cartesian anywhere; the only collect_list is the per-doc frequency
    array (bounded by per-doc vocabulary)."""
    from z_rad_spark.operators.text import lexical_diversity

    plan = _plan(lexical_diversity(_docs(spark)))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_quantiles_window_on_compacted_histogram(spark):
    """The cumulative windows must run on the (group, value) aggregate,
    never on the raw frame: HashAggregate below the Window, and
    winsorize's cutoff frame comes back via broadcast."""
    from z_rad_spark.operators.encoding import value_quantiles, winsorize

    plan = _plan(value_quantiles(_roled_turns_df(spark), group_col="role"))
    assert plan.count("Window") == 1
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan

    plan = _plan(winsorize(_roled_turns_df(spark), group_col="role"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_zero_exchange(spark):
    """The layout module's whole point: two tables bucketed on conv_id
    with equal bucket counts join with NO Exchange on either side (the
    bucketed scans satisfy the join distribution), independent of data
    size — the 100 TB fact-to-fact join shape. Broadcast is disabled so
    the test exercises the sort-merge path the layout exists for."""
    import tempfile
    import uuid

    from z_rad_spark.layout import write_bucketed

    t = _turns_df(spark)
    dim = t.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    sfx = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="zrs_bucket_")
    write_bucketed(t, f"{base}/facts", f"zrs_facts_{sfx}", "conv_id", 8,
                   sort_cols=("conv_id", "ts", "turn_idx"))
    write_bucketed(dim, f"{base}/dim", f"zrs_dim_{sfx}", "conv_id", 8,
                   sort_cols=("conv_id",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(f"zrs_facts_{sfx}").join(spark.table(f"zrs_dim_{sfx}"), "conv_id")
        n = j.count()
        assert n == t.count()
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # the whole point
        # join result parity with the unbucketed plan
        plain = t.join(dim, "conv_id").count()
        assert n == plain
    finally:
        import shutil

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS zrs_facts_{sfx}")
        spark.sql(f"DROP TABLE IF EXISTS zrs_dim_{sfx}")
        shutil.rmtree(base, ignore_errors=True)


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-partitioned parquet + a partition-column predicate must show
    up as PartitionFilters on the scan (pruning, not post-filtering):
    the 100 TB daily-layout contract — a day-filtered job reads one
    day's files, never the corpus."""
    p = str(tmp_path / "parted")
    t = _turns_df(spark).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    t.write.mode("overwrite").partitionBy("day").parquet(p)
    back = spark.read.parquet(p)
    one_day = t.select("day").distinct().orderBy("day").first()["day"]
    q = back.where(F.col("day") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert one_day in plan or "isnotnull(day" in plan
    # the filter never appears as a post-scan Filter on the partition col
    assert q.count() == t.where(F.col("day") == one_day).count()


def test_late_session_operator_plan_shapes(spark):
    """Plan pins for the session-9 late operators: each one's key scale
    property — no per-group Window where a groupBy fold suffices, no
    cartesian products, the single bucket-gate window in the
    incremental LSH screen."""
    import pandas as pd

    from z_rad_spark.operators.dedup import incremental_dup_candidates, loop_detection
    from z_rad_spark.operators.profile import changepoint, theil_sen_trend, volume_anomaly
    from z_rad_spark.operators.sessionize import render_with_loss_spans
    from z_rad_spark.operators.curation import snapshot_diff
    from z_rad_spark.operators.text import tfidf_hashed_embedding

    t = _turns_df(spark).withColumn("role", F.lit("user")).withColumn(
        "text", F.concat(F.lit("w"), (F.col("turn_idx") % 7).cast("string"))
    )
    docs = _docs(spark)

    plan = _plan(changepoint(t))
    assert plan.count("Window") <= 2 and "CartesianProduct" not in plan

    plan = _plan(theil_sen_trend(t))
    assert "Window" not in plan and "CartesianProduct" not in plan

    plan = _plan(render_with_loss_spans(t))
    assert "Window" not in plan and "Join" not in plan

    plan = _plan(volume_anomaly(t))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = _plan(loop_detection(docs))
    assert "Window" not in plan and "CartesianProduct" not in plan

    plan = _plan(snapshot_diff(docs, docs.withColumn("text", F.upper("text"))))
    assert "CartesianProduct" not in plan

    plan = _plan(tfidf_hashed_embedding(docs, dims=8))
    assert "Window" not in plan and "CartesianProduct" not in plan

    new = docs.select((F.col("doc_id") + 500).alias("doc_id"), "text")
    plan = _plan(incremental_dup_candidates(new, docs, n_hashes=8))
    assert plan.count("Window") == 1 and "CartesianProduct" not in plan


def test_final_session9_plan_shapes(spark):
    """Plan pins for the last session-9 wave: encoder broadcasts, no
    raw-frame windows where the compacted form exists, zero cartesians."""
    from z_rad_spark.operators.encoding import (
        quantile_transform,
        with_kfold_target_encoding,
    )
    from z_rad_spark.operators.sessionize import dialog_act_rates
    from z_rad_spark.operators.text import vocab_turnover

    t = _roled_turns_df(spark).withColumn(
        "text", F.concat(F.lit("w"), (F.col("turn_idx") % 7).cast("string"))
    )

    plan = _plan(quantile_transform(t, group_col="role"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = _plan(with_kfold_target_encoding(t, k=3))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(dialog_act_rates(t))
    assert "Window" not in plan and "Join" not in plan

    # two Window nodes (heavy-hitter rank on the vocab frame, week lag on
    # the tiny (group, week) frame) — 4 textual mentions in the AQE plan
    plan = _plan(vocab_turnover(t, k=5))
    assert plan.count("Window") <= 4 and "CartesianProduct" not in plan


def _app(app_id):
    """Stands in for a SparkSession: memo_plan reads only the application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_plan_memo_lru_evicts_oldest_key():
    app = _app("app-lru")
    built = []

    def build(i):
        return lambda: built.append(i) or i

    for i in range(_MEMO_SIZE + 1):
        assert memo_plan(app, ("lru", i), build(i)) == i
    assert memo_plan(app, ("lru", _MEMO_SIZE), build(-1)) == _MEMO_SIZE  # newest: hit
    assert memo_plan(app, ("lru", 1), build(-1)) == 1  # oldest survivor: hit
    assert built == list(range(_MEMO_SIZE + 1))
    assert memo_plan(app, ("lru", 0), build(0)) == 0  # evicted: rebuilt
    assert built[-1] == 0 and len(built) == _MEMO_SIZE + 2


def test_plan_memo_drops_other_applications_on_insert():
    dead, live = _app("app-dead"), _app("app-live")
    memo_plan(dead, ("k",), lambda: "dead")
    assert memo_plan(dead, ("k",), lambda: "rebuilt") == "dead"
    memo_plan(live, ("k",), lambda: "live")
    assert memo_plan(dead, ("k",), lambda: "rebuilt") == "rebuilt"


def test_plan_memo_pin_mismatch_is_a_miss():
    app, a, b = _app("app-pin"), object(), object()
    assert memo_plan(app, ("p",), lambda: "a", pin=a) == "a"
    assert memo_plan(app, ("p",), lambda: "x", pin=a) == "a"
    assert memo_plan(app, ("p",), lambda: "b", pin=b) == "b"


def test_plan_memo_keeps_its_bound_under_threads():
    app, errors = _app("app-threads"), []

    def work(t):
        try:
            for i in range(300):
                memo_plan(app, ("thr", t, i), lambda: i)
                memo_plan(app, ("thr", t, i // 2), lambda: -1)
        except Exception as e:  # reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(session._MEMO) <= _MEMO_SIZE


def test_get_spark_warns_when_a_static_conf_is_ignored(spark, caplog):
    """spark.sql.codegen.cache.maxEntries is static: attaching to a live
    session cannot change it, and get_spark must say so."""
    with caplog.at_level(logging.WARNING, logger="z_rad_spark.session"):
        s = get_spark(
            cores=4, shuffle_partitions=8,
            extra_conf={"spark.sql.codegen.cache.maxEntries": "123"},
        )
    assert s is spark
    assert any("spark.sql.codegen.cache.maxEntries" in r.getMessage() for r in caplog.records)


def test_library_never_sets_session_conf():
    """Operators run on long-lived shared sessions: none may mutate a
    session-global conf."""
    root = pathlib.Path(z_rad_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert hits == []


def test_query_and_oracle_registries_have_no_shadowed_definition():
    """A second ``def q_*`` in __spark_entry__.py silently replaces the
    first, and so does a second ``ORACLES[k] = ...`` in oracle_sql_defs.py;
    the only re-assignment allowed is one that builds on the old value
    (``ORACLES[k] = (ORACLES[k] ...``, e.g. a later substitution)."""
    import ast

    repo = pathlib.Path(z_rad_spark.__file__).parent.parent
    entry = ast.parse((repo / "__spark_entry__.py").read_text())
    names = [n.name for n in entry.body
             if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")]
    assert sorted({n for n in names if names.count(n) > 1}) == []

    def key(node):
        if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
                and node.value.id == "ORACLES" and isinstance(node.slice, ast.Constant)):
            return node.slice.value
        return None

    def base(node):  # the innermost receiver of a method/operator chain
        while isinstance(node, (ast.Call, ast.Attribute, ast.BinOp)):
            node = node.func if isinstance(node, ast.Call) else (
                node.value if isinstance(node, ast.Attribute) else node.left)
        return node

    seen, shadowed = set(), []
    oracles = ast.parse((repo / "oracle_sql_defs.py").read_text())
    for n in oracles.body:
        if isinstance(n, ast.Assign) and len(n.targets) == 1 and key(n.targets[0]):
            k = key(n.targets[0])
            if k in seen and key(base(n.value)) != k:
                shadowed.append(f"{k} (line {n.lineno})")
            seen.add(k)
    assert shadowed == []


# ---------------------------------------------------------------------------
# JVM-only point-in-time plans: the small constant frames (cutoff grid,
# query tokens, k / budget lists) are literals in the plan, never a pickled
# Python list read back through Python workers.

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_CUTS = ["2024-01-01 12:00:00", "2024-01-02T00:00:00", "2024-01-02 00:00:00"]


def _jvm_turns(spark, n=120):
    """Transcript turns derived from ``range`` alone, so any Python node or
    RDD scan in a plan over them comes from the operator under test."""
    i = F.col("id")
    roles = F.array(*[F.lit(r) for r in ("user", "assistant", "tool")])
    return spark.range(n).select(
        F.concat(F.lit("c"), (i % 4).cast("string")).alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.element_at(roles, (i % 3 + 1).cast("int")).alias("role"),
        F.concat_ws(" ", F.lit("tok"), (i % 7).cast("string"), F.lit("common words")).alias("text"),
        F.timestamp_seconds(F.lit(1704067200) + i * 1800).alias("ts"),
        ((i * 7) % 23).cast("double").alias("signal"),
    )


def _pit_ops():
    from z_rad_spark.operators import asof, backfill, firstorder_sql, sessionize

    return {
        "asof_state": lambda s, t, c: asof.asof_state(t, s, c, ["turn_idx"]),
        "asof_join": lambda s, t, c: asof.asof_join(
            t, t.select("conv_id", (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("as_of")),
            ["signal"]),
        "sessions_lag_lead": lambda s, t, c: sessionize.with_lag_lead(
            sessionize.with_sessions(t, 3600), ["signal"]),
        "backfill_linear": lambda s, t, c: backfill.backfill(t, 3600, method="linear"),
        "stats_asof": lambda s, t, c: firstorder_sql.stats_asof(t, s, c),
        "hist_asof": lambda s, t, c: firstorder_sql.hist_asof(t, s, c, 6),
        "horizon_features": lambda s, t, c: asof.horizon_features(t, s, c),
        "fbn_hist_asof": lambda s, t, c: firstorder_sql.fbn_hist_asof(t, s, c, 6),
    }


@pytest.mark.parametrize("name", list(_pit_ops()))
def test_pit_plans_run_in_the_jvm_alone(spark, name):
    """The point-in-time suite (perfbench ``pit_ops`` plus the other
    grid consumers) plans no RDD scan and no Python evaluation: the
    cutoff grid is a literal ``Generate``, not ``Scan ExistingRDD``."""
    plan = _plan(_pit_ops()[name](spark, _jvm_turns(spark), _CUTS))
    assert "ExistingRDD" not in plan, plan
    assert not [n for n in _PY_NODES if n in plan], plan


def test_lookup_frames_are_literals(spark):
    """The list-built lookup frames of BM25 (query tokens), the coverage
    curve (ks), rich-club (ks) and context overflow (budgets) are
    literals too; only BM25 keeps a Python node, its own idf pandas UDF."""
    from z_rad_spark.operators.graph import rich_club
    from z_rad_spark.operators.profile import context_overflow
    from z_rad_spark.operators.text import bm25_topk, coverage_curve

    turns = _jvm_turns(spark)
    docs = turns.select(F.col("turn_idx").cast("long").alias("doc_id"), "text")
    edges = spark.range(30).select(
        (F.col("id") % 7).alias("id_a"), ((F.col("id") * 3 + 1) % 11).alias("id_b"))
    plans = {
        "bm25_topk": _plan(bm25_topk(docs, [(0, ["tok", "3"]), (1, ["words"])])),
        "coverage_curve": _plan(coverage_curve(docs)),
        "rich_club": _plan(rich_club(edges)),
        "context_overflow": _plan(context_overflow(turns)),
    }
    for name, plan in plans.items():
        assert "ExistingRDD" not in plan, (name, plan)
        py = [n for n in _PY_NODES if n in plan]
        assert py == (["ArrowEvalPython"] if name == "bm25_topk" else []), (name, py)


def test_literal_frame_matches_create_dataframe(spark):
    """Same rows and schema as ``createDataFrame`` of the list: nulls,
    quotes, escapes, non-ASCII text, exact doubles; no rows gives an
    empty frame of that schema."""
    from z_rad_spark.operators.exprs import literal_frame

    cases = [
        ("k long, q string", [(1, "a"), (2, None), (None, "it's \\ 'q'\n é `x`")]),
        ("k long, q string", []),
        ("`d x` double, b boolean", [(0.1, True), (-2.5e-300, None), (None, False)]),
    ]
    for schema, rows in cases:
        got = literal_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert "ExistingRDD" not in _plan(got)


def _extract(spark, turns, cutoffs):
    from z_rad_spark import FeatureConfig, extract_features

    return extract_features(
        turns.withColumn("tool", F.lit(None).cast("string")), FeatureConfig(), cutoffs)


@pytest.mark.parametrize("name", ["asof_state", "stats_asof", "hist_asof",
                                  "horizon_features", "fbn_hist_asof",
                                  "extract_features"])
def test_empty_cutoff_list_gives_empty_frame_same_schema(spark, name):
    op = {**_pit_ops(), "extract_features": _extract}[name]
    turns = _jvm_turns(spark)
    empty = op(spark, turns, [])
    assert empty.schema.simpleString() == op(spark, turns, _CUTS[:1]).schema.simpleString()
    assert empty.count() == 0


_ORDER_SENSITIVE = [1e16, 1.0, -1e16, 3.0, 0.1]


def _left_fold(xs):
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


@pytest.mark.parametrize("parts", [1, 8])
def test_ordered_sums_is_a_left_fold_in_key_order(spark, parts):
    """Each term folds left over its group's rows in ascending key order,
    bit for bit, whatever the partitioning and the input row order: the
    values are order-sensitive (a key-order fold gives 3.1, a value-order
    fold 4.1), so any other summation order shows."""
    import struct

    from z_rad_spark.operators.exprs import ordered_sums

    rows = [(g, k, x) for g in ("a", "b") for k, x in enumerate(_ORDER_SENSITIVE)]
    rows = [(g, k, x * (2.0 if g == "b" else 1.0)) for g, k, x in reversed(rows)]
    df = spark.createDataFrame(rows, "g string, k long, x double").repartition(parts)
    got = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(*ordered_sums(["k"], s=F.col("x"), s3=F.col("x") * F.lit(3.0)))
        .collect()
    }
    bits = lambda v: struct.pack("<d", v)  # noqa: E731
    for g, scale in (("a", 1.0), ("b", 2.0)):
        xs = [x * scale for x in _ORDER_SENSITIVE]
        assert bits(got[g]["s"]) == bits(_left_fold(xs))
        assert bits(got[g]["s3"]) == bits(_left_fold([x * 3.0 for x in xs]))
    assert _left_fold(_ORDER_SENSITIVE) != _left_fold(sorted(_ORDER_SENSITIVE))


def test_ordered_sums_share_one_collect_list(spark):
    """Terms over one order share the collected array: two terms plan as
    many collect_list calls as one term."""
    from z_rad_spark.operators.exprs import ordered_sums

    df = spark.createDataFrame(
        [("a", k, x) for k, x in enumerate(_ORDER_SENSITIVE)], "g string, k long, x double"
    )
    one = _plan(df.groupBy("g").agg(*ordered_sums(["k"], s=F.col("x"))))
    two = _plan(df.groupBy("g").agg(*ordered_sums(["k"], s=F.col("x"), q=F.col("x") * 2)))
    aggs = [line for line in two.splitlines() if "collect_list(" in line]
    assert aggs and all(line.count("collect_list(") == 1 for line in aggs)
    assert two.count("collect_list(") == one.count("collect_list(") == len(aggs)


def test_chain_sql_parses_to_the_chain_tree(spark):
    """The SQL-text left fold parses to the same expression tree as the
    Column fold."""
    from z_rad_spark.operators.exprs import chain, chain_sql

    df = spark.range(1).select(*[F.lit(float(i)).alias(f"t{i}") for i in range(4)])
    names = [f"t{i}" for i in range(4)]
    assert chain_sql(names) == "(((t0 + t1) + t2) + t3)"
    sql = df.select(F.expr(chain_sql(names)).alias("s"))
    col = df.select(chain([F.col(n) for n in names]).alias("s"))

    def tree(d):
        return re.sub(r"#\d+", "", d._jdf.queryExecution().analyzed().toString())

    assert tree(sql) == tree(col)


def test_corpus_rank_picks_plan_one_window(spark):
    """The corpus-wide rank picks take the running count and the total
    over one value-ordered spec: one Window operator each."""
    from z_rad_spark.operators.profile import first_response_stats, view_to_purchase
    from z_rad_spark.operators.sessionize import key_skew_profile

    turns = _jvm_turns(spark)
    i = F.col("id")
    events = spark.range(40).select(
        i.alias("event_id"),
        (i % 5).alias("user_id"),
        F.when(i % 3 == 0, "purchase").otherwise("view").alias("event_type"),
        F.timestamp_seconds(F.lit(1704067200) + i * 600).alias("ts"),
    )
    for df in (key_skew_profile(turns), first_response_stats(turns), view_to_purchase(events)):
        assert _count_nodes(_plan(df), "Window") == 1, _plan(df)


def test_rank_pick_matches_numpy(spark):
    """running_counts + value_at_rank give the order statistic of the
    expanded multiset (np.repeat, sort, pick) for keyed histograms and
    the corpus-wide case, with counts > 1 so values tie: rank 0 and 1
    pick the minimum, n the maximum, n + 1 NULL, and a double rank n p
    the smallest value whose running count reaches it."""
    import math

    import numpy as np

    from z_rad_spark.operators.exprs import running_counts, value_at_rank

    rng = np.random.default_rng(29)
    rows = [
        (g, float(v), int(rng.integers(2, 6)))
        for g in ("a", "b", "c")
        for v in rng.choice(40, size=int(rng.integers(1, 12)), replace=False)
    ]
    hist = spark.createDataFrame(rows, "g string, v double, c long").repartition(3)
    p = 0.37

    def want(sub):
        s = np.sort(np.repeat([v for _, v, _ in sub], [c for *_, c in sub]))
        n = len(s)
        picks = [float(s[max(math.ceil(r), 1) - 1]) if r <= n else None
                 for r in (0, 1, n, n + 1, n * p)]
        return n, picks

    def got(keys):
        cum = running_counts(hist, keys, "v", "c")
        assert _count_nodes(_plan(cum), "Window") == 1
        n = F.col("_n")
        ranks = [F.lit(0), F.lit(1), n, n + 1, n.cast("double") * F.lit(p)]
        out = cum.groupBy(*keys).agg(
            F.max("_n").alias("n"), *[value_at_rank("v", r).alias(f"r{j}") for j, r in enumerate(ranks)]
        )
        return {
            tuple(r[k] for k in keys): (r["n"], [r[f"r{j}"] for j in range(len(ranks))])
            for r in out.collect()
        }

    assert got(["g"]) == {(g,): want([r for r in rows if r[0] == g]) for g in ("a", "b", "c")}
    assert got([]) == {(): want(rows)}
