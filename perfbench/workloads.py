"""The benchmark's workloads: inputs, one pass of public calls, checks.

Each workload generates its inputs from the seed (``gen``), loads them
through the program into materialized frames (the set-up), and defines a
pass as a fixed list of operations. Every operation's output is consumed
by one aggregate that reads every output column
(``count`` + ``bit_xor(xxhash64(struct(...)))``, so Catalyst cannot prune
windows or joins), plus a few check aggregates. The checks run outside
the timed window, on the aggregates' results.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import gen
import spans as tr

CUTOFFS = ["2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"]
DAILY = [f"2024-01-{d:02d} 00:00:00" for d in range(2, 31)]  # 29 daily cutoffs
GAP_SECONDS = 1800.0
RESUME_BUCKETS = 8
RESUME_INVALIDATE = 2  # buckets whose manifest a simulated crash loses


def _us(ts: str) -> int:
    return int(np.datetime64(ts.replace(" ", "T"), "us").astype(np.int64))


def consume(df, extra=()):
    """One action over ``df`` that reads every output column."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in df.columns)
    aggs = [F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64(struct({cols})))").alias("h"), *extra]
    return df.agg(*aggs).collect()[0].asDict()


@dataclass
class Op:
    layer: str
    name: str
    run: Callable  # (ctx) -> dict of results; "n" and "h" form the digest


def df_op(layer: str, name: str, build: Callable, extra: Callable = lambda df: []) -> Op:
    def run(ctx):
        with ctx.tracer.span(layer, f"{name}.build"):
            df = build(ctx)
        return consume(df, extra(df))

    return Op(layer, name, run)


class Ctx:
    """State of one benchmark run shared by set-up, passes and checks."""

    def __init__(self, work: str, seed: int, cores: int, tracer: tr.Tracer):
        self.work, self.seed, self.cores, self.tracer = work, seed, cores, tracer
        self.spark = None
        self.frames: dict = {}
        self.untimed_s = 0.0
        self.untimed_cpu_s = 0.0

    @contextmanager
    def untimed(self):
        """Work inside a pass that is not part of its timing (checks)."""
        c0 = sum(tr.cpu_by_role().values())
        t0 = time.perf_counter()
        with self.tracer.span("bench.check", "untimed"):
            yield
        self.untimed_s += time.perf_counter() - t0
        self.untimed_cpu_s += sum(tr.cpu_by_role().values()) - c0


# --------------------------------------------------------------------------
# transcripts-based workloads


class TranscriptWorkload:
    n_convs: int
    n_turns: int
    # untimed warm passes after the first: passes keep getting shorter
    # for a few passes (perfbench/README.md, End-to-end metrics)
    warmups = 1

    def generate(self, ctx: Ctx) -> None:
        self.turns = gen.transcripts(ctx.seed, self.n_convs, self.n_turns)
        gen.write_transcripts(self.turns, os.path.join(ctx.work, "transcripts"))
        self.rows = self.n_turns

    def load(self, ctx: Ctx) -> None:
        from z_rad_spark.transcripts import read_transcripts

        with ctx.tracer.span("transcripts", "read_transcripts"):
            t = read_transcripts(ctx.spark, os.path.join(ctx.work, "transcripts"), fmt="parquet")
            t = t.persist()
            t.count()
        ctx.frames["turns"] = t

    # expected values from the generated input, for the checks
    def turns_upto(self, cut_us: int) -> int:
        return int((self.turns["ts_us"].to_numpy() <= cut_us).sum())

    def conv_bounds(self):
        """(start, end) row offsets of each conversation in the sorted input."""
        codes = self.turns["conv_id"].to_numpy()
        brk = np.nonzero(codes[1:] != codes[:-1])[0] + 1
        return np.concatenate(([0], brk)), np.concatenate((brk, [codes.size]))

    def max_conv_turns(self) -> int:
        s, e = self.conv_bounds()
        return int((e - s).max())


class Extract(TranscriptWorkload):
    """The flagship ``extract_features``: all 11 families, 3 cutoffs."""

    name = "extract"
    # many short conversations: the kernel runs once per (conversation,
    # cutoff), so this keeps the kernels the largest layer of a pass
    n_convs = 600
    n_turns = 12_000
    n_oracle = 4  # sampled conversations checked against oracle/reference.py
    warmups = 2

    def cfg(self, families=None):
        from z_rad_spark.config import ALL_FAMILIES, FeatureConfig

        fam = ALL_FAMILIES if families is None else families
        return FeatureConfig(eligible_roles=("user", "assistant", "tool"),
                             gap_seconds=GAP_SECONDS, families=fam)

    def generate(self, ctx):
        super().generate(ctx)
        rng = np.random.default_rng(ctx.seed + 3)
        ids = np.unique(self.turns["conv_id"].to_numpy())
        self.sample = sorted(rng.choice(ids, self.n_oracle, replace=False).tolist())

    def _extra(self, df):
        from pyspark.sql import functions as F

        aggs = [F.sum(F.when(F.col("as_of") == F.to_timestamp(F.lit(c)), F.col("n_turns")))
                .alias(f"turns_{i}") for i, c in enumerate(CUTOFFS)]
        aggs.append(F.sum(F.col("n_eligible").isNull().cast("long")).alias("failed_rows"))
        cols = [F.col(c) for c in df.columns]
        aggs.append(F.collect_list(F.when(F.col("conv_id").isin(*self.sample),
                                          F.struct(*cols))).alias("sample"))
        return aggs

    def ops(self, ctx, families=None):
        from z_rad_spark.extractor import extract_features

        cfg = self.cfg(families)
        name = "extract_features" if families is None else "extract_floor"
        return [df_op("extractor", name,
                      lambda c: extract_features(c.frames["turns"], cfg, CUTOFFS), self._extra)]

    def check(self, res) -> list[str]:
        r = res["extract_features"]
        errs = []
        ids = self.turns.groupby("conv_id")["ts_us"].min()
        want_rows = int((ids <= _us(CUTOFFS[-1])).sum()) * len(CUTOFFS)
        if r["n"] != want_rows:
            errs.append(f"extract: {r['n']} rows, expected {want_rows}")
        if r["failed_rows"]:
            errs.append(f"extract: {r['failed_rows']} kernel-failure rows")
        for i, c in enumerate(CUTOFFS):
            want = self.turns_upto(_us(c))
            if r[f"turns_{i}"] != want:
                errs.append(f"extract: leakage at {c}: sum(n_turns)={r[f'turns_{i}']}, "
                            f"turns with ts <= as_of={want}")
        errs += self._oracle(r["sample"])
        return errs

    def leaked_rows(self, res) -> int:
        r = res["extract_features"]
        return sum(max(0, r[f"turns_{i}"] - self.turns_upto(_us(c))) for i, c in enumerate(CUTOFFS))

    def _oracle(self, rows) -> list[str]:
        """Stats and histogram families of the sampled conversations
        against the loop-based reference implementation."""
        from oracle import reference as orc

        roles = {"user", "assistant", "tool"}
        got = {(r["conv_id"], pd.Timestamp(r["as_of"]).value // 1000): r.asDict() for r in rows}
        errs, checked = [], 0
        for conv in self.sample:
            t = self.turns[self.turns["conv_id"] == conv]
            for c in CUTOFFS:
                cut = _us(c)
                key = (conv, cut)
                p = t[t["ts_us"] <= cut].sort_values(["ts_us", "turn_idx"], kind="mergesort")
                if p.empty:
                    continue
                if key not in got:
                    errs.append(f"extract: oracle row {key} missing")
                    continue
                g = got[key]
                masked = [s if r in roles else math.nan for s, r in zip(p["signal"], p["role"])]
                n_elig = sum(1 for m in masked if not math.isnan(m))
                want = {"n_turns": len(p), "n_eligible": n_elig}
                if n_elig >= 3:
                    want.update(orc.stats_oracle(masked))
                    want.update(orc.hist_oracle(masked))
                for k, v in want.items():
                    gv = g[k]
                    ok = (math.isnan(v) and gv is not None and math.isnan(gv)) if (
                        isinstance(v, float) and math.isnan(v)) else (
                        gv is not None and math.isclose(gv, v, rel_tol=1e-9, abs_tol=1e-12))
                    checked += 1
                    if not ok:
                        errs.append(f"extract: oracle mismatch {conv} {c} {k}: {gv} != {v}")
        if checked == 0:
            errs.append("extract: oracle check compared nothing")
        return errs[:5]


class PitOps(TranscriptWorkload):
    """The JVM-only point-in-time suite: no Python kernel work."""

    name = "pit_ops"
    # a warm pass pays ~4.5 s of fixed per-query cost at any size; larger
    # inputs do not fit the run budget (perfbench/README.md, sizing)
    n_convs = 150
    n_turns = 9_000
    probes_per_conv = 4
    warmups = 2

    def generate(self, ctx):
        super().generate(ctx)
        self.probes = gen.probes(ctx.seed, self.turns, self.probes_per_conv)
        gen.write_probes(self.probes, os.path.join(ctx.work, "probes"))

    def load(self, ctx):
        from z_rad_spark.transcripts import with_signal

        super().load(ctx)
        with ctx.tracer.span("transcripts", "read_probes"):
            p = ctx.spark.read.parquet(os.path.join(ctx.work, "probes")).persist()
            p.count()
        ctx.frames["probes"] = p
        # one signal frame per session: warm passes hit the as-of plan memo
        ctx.frames["signal"] = with_signal(ctx.frames["turns"])

    def ops(self, ctx):
        from pyspark.sql import functions as F
        from z_rad_spark.operators import asof, backfill, firstorder_sql, sessionize

        def turns(c):
            return c.frames["signal"]

        def daily(df):
            return [F.sum(F.when(F.col("as_of") == F.to_timestamp(F.lit(d)), F.col("n_turns")))
                    .alias(f"turns_{i}") for i, d in enumerate(DAILY)]

        return [
            df_op("operators.asof", "asof_state",
                  lambda c: asof.asof_state(turns(c), c.spark, CUTOFFS, ["turn_idx"]),
                  lambda df: [F.sum("turn_idx").alias("s")]),
            df_op("operators.asof", "asof_join",
                  lambda c: asof.asof_join(turns(c), c.frames["probes"], ["signal"]),
                  lambda df: [F.sum("signal").alias("s"), F.count("signal").alias("m")]),
            df_op("operators.sessionize", "sessions_lag_lead",
                  lambda c: sessionize.with_lag_lead(
                      sessionize.with_sessions(turns(c), GAP_SECONDS), ["signal"]),
                  lambda df: [F.sum("session_id").alias("s")]),
            df_op("operators.backfill", "backfill_linear",
                  lambda c: backfill.backfill(turns(c), 3600, method="linear")),
            df_op("operators.firstorder_sql", "stats_asof",
                  lambda c: firstorder_sql.stats_asof(turns(c), c.spark, DAILY), daily),
            df_op("operators.firstorder_sql", "hist_asof",
                  lambda c: firstorder_sql.hist_asof(turns(c), c.spark, DAILY, 16)),
        ]

    def check(self, res) -> list[str]:
        errs = []
        t = self.turns
        ts = t["ts_us"].to_numpy()
        s, e = self.conv_bounds()
        n_convs = s.size

        # asof_state: the last turn_idx at or before each cutoff
        want = 0
        for c in CUTOFFS:
            upto = np.add.reduceat((ts <= _us(c)).astype(np.int64), s)
            hit = upto > 0
            want += int(t["turn_idx"].to_numpy()[(s + upto - 1)[hit]].sum())
        r = res["asof_state"]
        if (r["n"], r["s"]) != (n_convs * len(CUTOFFS), want):
            errs.append(f"asof_state: (rows, sum)=({r['n']}, {r['s']}), "
                        f"expected ({n_convs * len(CUTOFFS)}, {want})")

        # asof_join: signal of the latest turn at or before each probe
        conv_code = np.repeat(np.arange(n_convs), e - s)
        key = conv_code * (1 << 42) + (ts - gen.BASE_US)
        p = self.probes
        p_code = np.searchsorted(t["conv_id"].to_numpy()[s], p["conv_id"].to_numpy())
        idx = np.searchsorted(key, p_code * (1 << 42) + (p["as_of_us"].to_numpy() - gen.BASE_US),
                              side="right") - 1
        ok = (idx >= 0) & (conv_code[np.maximum(idx, 0)] == p_code)
        want_s = float(t["signal"].to_numpy()[idx[ok]].sum())
        r = res["asof_join"]
        if (r["n"], r["m"], r["s"]) != (len(p), int(ok.sum()), want_s):
            errs.append(f"asof_join: (rows, matched, sum)=({r['n']}, {r['m']}, {r['s']}), "
                        f"expected ({len(p)}, {int(ok.sum())}, {want_s})")

        # sessions: a new session starts after each gap > GAP_SECONDS
        gap = np.diff(ts, prepend=ts[0]) > GAP_SECONDS * 1e6
        gap[s] = False
        sess = np.cumsum(gap) - np.repeat(np.cumsum(gap)[s], e - s)
        r = res["sessions_lag_lead"]
        if (r["n"], r["s"]) != (len(t), int(sess.sum())):
            errs.append(f"sessions: (rows, sum)=({r['n']}, {r['s']}), expected ({len(t)}, {int(sess.sum())})")

        # backfill: one grid row per hour from the minute of the first turn
        t0 = ts[s] // 60_000_000 * 60_000_000
        t1 = ts[e - 1]
        want_grid = int(((t1 - t0) // 3_600_000_000 + 1).sum())
        if res["backfill_linear"]["n"] != want_grid:
            errs.append(f"backfill: {res['backfill_linear']['n']} rows, expected {want_grid}")

        # stats_asof / hist_asof: the summed n_turns at each as_of must be
        # the number of input turns with ts <= as_of (no leakage)
        r = res["stats_asof"]
        for i, d in enumerate(DAILY):
            want = self.turns_upto(_us(d))
            if (r[f"turns_{i}"] or 0) != want:
                errs.append(f"stats_asof: leakage at {d}: {r[f'turns_{i}']} != {want}")
        want_groups = sum(int((np.add.reduceat((ts <= _us(d)).astype(np.int64), s) > 0).sum())
                          for d in DAILY)
        for name in ("stats_asof", "hist_asof"):
            if res[name]["n"] != want_groups:
                errs.append(f"{name}: {res[name]['n']} rows, expected {want_groups}")
        return errs[:8]


class Resume(TranscriptWorkload):
    """Bucketed per-turn feature materialization through
    ``checkpoint.run_resumable``, then a resume after a simulated crash
    loses a fixed share of the bucket manifests."""

    name = "resume"
    n_convs = 200
    n_turns = 12_000

    def generate(self, ctx):
        super().generate(ctx)
        rng = np.random.default_rng(ctx.seed + 4)
        self.lost = sorted(rng.choice(RESUME_BUCKETS, RESUME_INVALIDATE, replace=False).tolist())

    def build(self, ctx):
        from z_rad_spark.checkpoint import bucket_filter
        from z_rad_spark.operators import sessionize
        from z_rad_spark.transcripts import with_signal

        def build_df(b, n):
            with ctx.tracer.span("operators.sessionize", "bucket.build"):
                t = with_signal(ctx.frames["turns"]).filter(bucket_filter(b, n))
                return sessionize.with_lag_lead(sessionize.with_sessions(t, GAP_SECONDS), ["signal"])

        return build_df

    def digests(self, ctx, out) -> dict:
        from pyspark.sql import functions as F

        df = ctx.spark.read.parquet(out)
        cols = ", ".join(f"`{c}`" for c in df.columns if c != "bucket")
        rows = df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64(struct({cols})))").alias("h")).collect()
        return {r["bucket"]: (r["n"], r["h"]) for r in rows}

    def ops(self, ctx):
        def run(c):
            from z_rad_spark import checkpoint

            out = os.path.join(c.work, "resume_out")
            with c.untimed():
                shutil.rmtree(out, ignore_errors=True)
            snap = checkpoint.input_snapshot_id(os.path.join(c.work, "transcripts"))
            build_df = self.build(c)
            with c.tracer.span("checkpoint", "full_run"):
                full = checkpoint.run_resumable(c.spark, build_df, out, snap, RESUME_BUCKETS)
            with c.untimed():
                before = self.digests(c, out)
                # simulated crash: these buckets lose their manifest and data
                for b in self.lost:
                    os.remove(os.path.join(out, "_lineage", f"bucket-{b:05d}.json"))
                    shutil.rmtree(os.path.join(out, f"bucket={b}"))
            with c.tracer.span("checkpoint", "resume"):
                resumed = checkpoint.run_resumable(c.spark, build_df, out, snap, RESUME_BUCKETS)
            with c.untimed():
                after = self.digests(c, out)
            n = sum(v[0] for v in after.values())
            h = 0
            for v in after.values():
                h ^= v[1]
            return {"n": n, "h": h, "before": before, "after": after, "full": full,
                    "resumed": resumed, "out": out}

        return [Op("checkpoint", "run_resumable", run)]

    def check(self, res) -> list[str]:
        r = res["run_resumable"]
        errs = []
        if r["n"] != self.n_turns:
            errs.append(f"resume: {r['n']} rows written, expected {self.n_turns}")
        if r["full"]["computed"] != RESUME_BUCKETS:
            errs.append(f"resume: full run computed {r['full']['computed']} buckets")
        if (r["resumed"]["computed"], r["resumed"]["skipped"]) != (
                RESUME_INVALIDATE, RESUME_BUCKETS - RESUME_INVALIDATE):
            errs.append(f"resume: computed/skipped {r['resumed']['computed']}/"
                        f"{r['resumed']['skipped']}")
        for b in range(RESUME_BUCKETS):
            if r["before"].get(b) != r["after"].get(b):
                errs.append(f"resume: bucket {b} differs after resume: "
                            f"{r['before'].get(b)} != {r['after'].get(b)}")
        return errs


# --------------------------------------------------------------------------
# document curation


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text).strip().lower()


def _lang(text: str) -> str:
    """The engine's rule-based language id, re-derived for the check."""
    toks = re.split(r"\s+", text.strip().lower())
    best, best_score = "und", 0
    for lang in gen.LANGS:
        words = set(gen.MARKERS[lang])
        score = sum(1 for t in toks if t in words)
        if score > best_score:
            best, best_score = lang, score
    return best


def shingles(text: str, n: int = 3) -> set:
    toks = _norm(text).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class Curate:
    """Exact dedup, quality + language id, MinHash-LSH candidate pairs and
    near-duplicate clusters over documents with planted clusters."""

    name = "curate"
    warmups = 1
    n_docs = 4_000
    n_clusters = 300
    min_recall = 0.95  # planted clusters recovered whole, at least

    def generate(self, ctx):
        self.docs, self.cluster = gen.documents(ctx.seed, self.n_docs, self.n_clusters)
        gen.write_documents(self.docs, os.path.join(ctx.work, "documents"))
        self.rows = self.n_docs

    def load(self, ctx):
        with ctx.tracer.span("load", "read_documents"):
            d = ctx.spark.read.parquet(os.path.join(ctx.work, "documents")).persist()
            d.count()
        ctx.frames["docs"] = d

    def ops(self, ctx):
        from pyspark.sql import functions as F
        from z_rad_spark.operators import dedup, text

        langs = gen.LANGS + ["und"]
        return [
            df_op("operators.dedup", "exact_dedup",
                  lambda c: dedup.exact_dedup(c.frames["docs"]),
                  lambda df: [F.sum("dup_count").alias("s")]),
            df_op("operators.text", "quality_lang_id",
                  lambda c: text.with_lang_id(text.with_quality(c.frames["docs"])),
                  lambda df: [F.sum((F.col("lang_pred") == l).cast("long")).alias(f"lang_{l}")
                              for l in langs]),
            df_op("operators.dedup", "minhash_lsh_pairs",
                  lambda c: dedup.minhash_lsh_pairs(c.frames["docs"]),
                  lambda df: [F.collect_list(F.struct("id_a", "id_b")).alias("pairs")]),
            df_op("operators.dedup", "dup_clusters",
                  lambda c: dedup.dup_clusters(c.frames["docs"]),
                  lambda df: [F.collect_list(F.struct("doc_id", "cluster_id")).alias("clusters")]),
        ]

    def check(self, res) -> list[str]:
        errs = []
        texts = self.docs["text"].tolist()
        r = res["exact_dedup"]
        want = len({_norm(t) for t in texts})
        if (r["n"], r["s"]) != (want, self.n_docs):
            errs.append(f"exact_dedup: (groups, docs)=({r['n']}, {r['s']}), expected ({want}, {self.n_docs})")
        r = res["quality_lang_id"]
        counts = pd.Series([_lang(t) for t in texts]).value_counts()
        for l in gen.LANGS + ["und"]:
            if r[f"lang_{l}"] != int(counts.get(l, 0)):
                errs.append(f"lang_id: {r[f'lang_{l}']} docs tagged {l}, expected {int(counts.get(l, 0))}")
        if any(p["id_a"] >= p["id_b"] for p in res["minhash_lsh_pairs"]["pairs"]):
            errs.append("minhash_lsh_pairs: a pair with id_a >= id_b")
        errs += self._clusters(res["dup_clusters"]["clusters"])
        return errs[:8]

    def _clusters(self, rows) -> list[str]:
        """Every planted cluster is one found cluster, and no found cluster
        mixes two planted clusters or an unplanted document."""
        found = {r["doc_id"]: r["cluster_id"] for r in rows}
        planted = pd.Series(self.cluster, index=self.docs["doc_id"].to_numpy())
        errs = []
        ids = planted[planted >= 0]
        whole = sum(1 for _, g in ids.groupby(ids)
                    if len({found.get(d) for d in g.index}) == 1 and g.index[0] in found)
        recall = whole / self.n_clusters
        if recall < self.min_recall:
            errs.append(f"dup_clusters: {whole}/{self.n_clusters} planted clusters recovered")
        by_found: dict = {}
        for d, c in found.items():
            by_found.setdefault(c, set()).add(int(planted.get(d, -1)))
        impure = sum(1 for s in by_found.values() if len(s) > 1 or -1 in s)
        if impure:
            errs.append(f"dup_clusters: {impure} found clusters mix planted clusters")
        return errs

    def useful_ratio(self, res) -> tuple[int, float]:
        """Candidate pairs and the share an exact 3-shingle Jaccard >= 0.5
        confirms."""
        pairs = res["minhash_lsh_pairs"]["pairs"]
        text = dict(zip(self.docs["doc_id"], self.docs["text"]))
        good = 0
        for p in pairs:
            a, b = shingles(text[p["id_a"]]), shingles(text[p["id_b"]])
            good += len(a & b) / max(len(a | b), 1) >= 0.5
        return len(pairs), good / max(len(pairs), 1)


WORKLOADS = {w.name: w for w in (Extract, PitOps, Resume, Curate)}


def check(wl, passes) -> list[str]:
    """Workload checks on the first pass; every later pass must produce
    the same digest, operation by operation."""
    first = passes[0]
    if first.errs:
        return []
    errs = list(wl.check(first.res))
    digest = {k: (v["n"], v["h"]) for k, v in first.res.items()}
    for i, p in enumerate(passes[1:], 1):
        for k, v in p.res.items():
            if (v["n"], v["h"]) != digest[k]:
                errs.append(f"pass {i}: {k} digest {(v['n'], v['h'])} != first pass {digest[k]}")
    return errs
