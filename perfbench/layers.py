"""Per-layer metrics of a traced run.

Every metric BENCHMARK.json names is reported on every workload; the
metrics of a layer that a run does not call read 0. Durations are
medians over the traced timed passes unless named otherwise; ``build_s`` metrics come from the
first pass, where plans are built cold.
"""

from __future__ import annotations

import os
import time

import numpy as np

import spans as tr
from spans import med
from workloads import CUTOFFS, RESUME_BUCKETS, _us

MB = 1024 * 1024


def _dur(tracer, passes, layer, name):
    return med(s.dur for s in tracer.find(layer, name, passes))


def _sum_dur(tracer, passes, layer, names):
    return sum(_dur(tracer, passes, layer, n) for n in names)


def _counter(tracer, passes, layer, name, key):
    return med(tracer.total(s, key) for s in tracer.find(layer, name, passes))


def per_layer(runner, first, timed, traced, names) -> dict:
    """The metrics ``names``: those of the session, transcripts, self
    times and tracing overhead, then those of the run's workload and of
    the workload that rides along in it."""
    tracer, wl = runner.tracer, runner.wl
    m = dict.fromkeys(names, 0.0)
    # the set-up's session start and load are the run's first spans of
    # their kind; riders and the local[1] session come later
    roles = tr.process_tree()
    m["session.start_s"] = next(s.dur for s in tracer.spans if s.layer == "session")
    m["session.jvm_peak_rss_mb"] = tr.peak_rss_mb(roles["jvm"])
    m["session.pyworker_peak_rss_mb"] = tr.peak_rss_mb(roles["pyworkers"])

    m["transcripts.load_s"] = next(
        (s.dur for s in tracer.spans if s.layer == "transcripts" and s.name == "read_transcripts"), 0.0)
    has_turns = hasattr(wl, "turns")
    m["transcripts.rows"] = wl.rows if has_turns else 0
    m["transcripts.max_conv_turns"] = wl.max_conv_turns() if has_turns else 0

    # self time per layer, per traced pass
    roots = [s for p in traced for s in tracer.spans[p.span_range[0]:p.span_range[1]]
             if s.layer == "workload" and s.name == "pass"]
    self_t = tracer.self_times(roots)
    for name in names:
        if name.startswith("self_s."):
            m[name] = self_t.get(name.removeprefix("self_s."), 0.0) / len(traced)

    untraced, traced_wall = med(p.wall for p in timed), med(p.wall for p in traced)
    m["trace.overhead_s"] = traced_wall - untraced
    m["trace.overhead_frac"] = (traced_wall - untraced) / untraced

    FILL[wl.name](m, runner, first, timed, traced)
    if wl.name in RIDERS:
        _rider(m, runner, RIDERS[wl.name])
    if wl.name == "extract":
        _scaling(m, runner, timed)
    return m


#: workloads run inside another workload's traced run, so that their
#: layers keep per-layer numbers when only the host workload is listed
RIDERS = {"extract": "resume", "pit_ops": "curate"}


def _rider(m, runner, name):
    """One cold and one traced warm pass of workload ``name`` in the
    host run's session, on the same seed; fills that workload's layer
    metrics. Check failures are added to ``runner.rider_errs``."""
    from workloads import WORKLOADS, Ctx, check

    host = runner.ctx
    ctx = Ctx(os.path.join(host.work, name), host.seed, host.cores, host.tracer)
    ctx.spark = host.spark
    wl = WORKLOADS[name]()
    sub = type(runner)(wl, ctx)
    wl.generate(ctx)
    wl.load(ctx)
    ops = wl.ops(ctx)
    passes = [sub.run_pass(ops) for _ in range(2)]
    runner.rider_errs += [f"{name}: {e}" for p in passes for e in p.errs] + [
        f"{name}: {e}" for e in check(wl, passes)]
    FILL[name](m, sub, passes[0], [], passes[1:])


def _extract(m, runner, first, timed, traced):
    tracer, wl, ctx = runner.tracer, runner.wl, runner.ctx
    L, N = "extractor", "extract_features"
    m["extractor.build_s"] = _dur(tracer, [first], L, f"{N}.build")
    m["extractor.pass_s"] = _dur(tracer, traced, L, N)
    m["extractor.jobs"] = _counter(tracer, traced, L, N, "jobs")
    m["extractor.shuffle_write_mb"] = _counter(tracer, traced, L, N, "shuffle_write_b") / MB
    m["extractor.python_cpu_s"] = _counter(tracer, traced, L, N, "cpu_pyworkers_s")
    m["extractor.jvm_cpu_s"] = _counter(tracer, traced, L, N, "cpu_jvm_s")
    res = first.res[N]
    m["extractor.rows_out"] = res["n"]
    m["extractor.failed_rows"] = res["failed_rows"]
    m["extractor.leaked_rows"] = wl.leaked_rows(first.res)

    # floor: the same pass with no feature family (scan + bucket exchange
    # + Arrow crossing + per-conversation loop)
    floor_ops = wl.ops(ctx, families=())
    floors = [runner.run_pass(floor_ops) for _ in range(2)]  # the first builds cold
    m["extractor.floor_s"] = _dur(tracer, floors[1:], L, "extract_floor")
    # the kernels' share of a pass is the pass over the floor
    kern = max(m["extractor.pass_s"] - m["extractor.floor_s"], 0.0)
    m["self_s.kernels"] = kern
    m["self_s.extractor"] = max(m["self_s.extractor"] - kern, 0.0)

    m.update(kernel_us(wl))


def _scaling(m, runner, timed):
    """Parallel efficiency: local[1] against local[nproc], on the same
    input and bucket count. Restarts the session, so it runs last."""
    wl, ctx = runner.wl, runner.ctx
    t_n = med(p.wall for p in timed)
    runner.setup(1)
    t_1 = runner.run_pass(wl.ops(ctx)).wall  # JVM-warm plans, fresh Python workers
    m["extractor.scaling_eff_1_to_4"] = t_1 / t_n / ctx.cores


FAMILIES = ("stats", "hist", "ivh", "local", "shape", "glcm", "glrlm", "glszm", "gldzm",
            "ngtdm", "ngldm")


def kernel_us(wl, n_rows: int = 48, reps: int = 3) -> dict:
    """Single-thread microseconds per (conversation, cutoff) row of
    ``extractor.compute_one`` on a fixed driver-side sample, for the
    shared preparation alone, each family on top of it, and all
    families."""
    from z_rad_spark.extractor import ROLE_CODE, compute_one

    t = wl.turns
    s, e = wl.conv_bounds()
    rng = np.random.default_rng(0)
    rows = []
    for ci in rng.choice(s.size, n_rows // len(CUTOFFS), replace=False):
        sl = t.iloc[s[ci]:e[ci]]
        ts = sl["ts_us"].to_numpy()
        for c in CUTOFFS:
            hi = int(np.searchsorted(ts, _us(c), side="right"))
            if hi == 0:
                continue
            p = sl.iloc[:hi]
            rows.append((ts[:hi], p["signal"].to_numpy(),
                         p["role"].isin(["user", "assistant", "tool"]).to_numpy(),
                         p["role"].map(ROLE_CODE).to_numpy(np.int64),
                         p["tool"].notna().to_numpy()))

    def per_row(cfg) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for r in rows:
                compute_one(*r, cfg)
            best = min(best, time.perf_counter() - t0)
        return best / len(rows) * 1e6

    prep = per_row(wl.cfg(()))
    out = {"kernels.prep_us": prep, "kernels.all_us": per_row(wl.cfg())}
    for f in FAMILIES:
        out[f"kernels.{f}_us"] = max(per_row(wl.cfg((f,))) - prep, 0.0)
    return out


def _pit_ops(m, runner, first, timed, traced):
    tracer = runner.tracer
    A, S, B, F = ("operators.asof", "operators.sessionize", "operators.backfill",
                  "operators.firstorder_sql")
    m[f"{A}.build_s"] = _sum_dur(tracer, [first], A, ["asof_state.build", "asof_join.build"])
    m[f"{A}.state_pass_s"] = _dur(tracer, traced, A, "asof_state")
    m[f"{A}.join_pass_s"] = _dur(tracer, traced, A, "asof_join")
    m[f"{A}.shuffle_write_mb"] = sum(
        _counter(tracer, traced, A, n, "shuffle_write_b") for n in ("asof_state", "asof_join")) / MB
    m[f"{S}.pass_s"] = _dur(tracer, traced, S, "sessions_lag_lead")
    m[f"{S}.shuffle_write_mb"] = _counter(
        tracer, traced, S, "sessions_lag_lead", "shuffle_write_b") / MB
    m[f"{B}.pass_s"] = _dur(tracer, traced, B, "backfill_linear")
    m[f"{B}.rows_out"] = first.res["backfill_linear"]["n"]
    m[f"{F}.build_s"] = _sum_dur(tracer, [first], F, ["stats_asof.build", "hist_asof.build"])
    m[f"{F}.rebuild_s"] = _sum_dur(tracer, traced, F, ["stats_asof.build", "hist_asof.build"])
    m[f"{F}.stats_pass_s"] = _dur(tracer, traced, F, "stats_asof")
    m[f"{F}.hist_pass_s"] = _dur(tracer, traced, F, "hist_asof")
    m[f"{F}.spill_mb"] = sum(
        _counter(tracer, traced, F, n, "spill_b") for n in ("stats_asof", "hist_asof")) / MB


def _dir_bytes(path: str) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_lineage"]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _resume(m, runner, first, timed, traced):
    from z_rad_spark import checkpoint

    C = "checkpoint"
    tracer, wl, ctx = runner.tracer, runner.wl, runner.ctx
    r = first.res["run_resumable"]
    m[f"{C}.full_run_s"] = _dur(tracer, traced, C, "full_run")
    m[f"{C}.resume_s"] = _dur(tracer, traced, C, "resume")
    manifests = checkpoint.load_manifests(r["out"])
    m[f"{C}.bucket_s"] = med(v["wall_sec"] for v in manifests.values())
    m[f"{C}.input_scans"] = r["full"]["computed"] + r["resumed"]["computed"]
    m[f"{C}.buckets_computed"] = r["resumed"]["computed"]
    m[f"{C}.buckets_skipped"] = r["resumed"]["skipped"]
    written = _dir_bytes(r["out"])
    m[f"{C}.bytes_written_mb"] = written / MB
    m[f"{C}.bytes_per_input_byte"] = written / _dir_bytes(os.path.join(ctx.work, "transcripts"))
    # a resume with every manifest intact: all buckets skipped
    snap = checkpoint.input_snapshot_id(os.path.join(ctx.work, "transcripts"))
    with tracer.span(C, "noop_resume"):
        noop = checkpoint.run_resumable(ctx.spark, wl.build(ctx), r["out"], snap, RESUME_BUCKETS)
    m[f"{C}.noop_resume_s"] = tracer.find(C, "noop_resume")[-1].dur
    if noop["skipped"] != RESUME_BUCKETS:
        raise RuntimeError(f"no-op resume recomputed {noop['computed']} buckets")


def _curate(m, runner, first, timed, traced):
    D, T = "operators.dedup", "operators.text"
    tracer, wl = runner.tracer, runner.wl
    m[f"{D}.exact_pass_s"] = _dur(tracer, traced, D, "exact_dedup")
    m[f"{D}.lsh_pairs_pass_s"] = _dur(tracer, traced, D, "minhash_lsh_pairs")
    m[f"{D}.clusters_pass_s"] = _dur(tracer, traced, D, "dup_clusters")
    m[f"{D}.clusters_jobs"] = _counter(tracer, traced, D, "dup_clusters", "jobs")
    m[f"{D}.candidate_pairs"], m[f"{D}.lsh_useful_ratio"] = wl.useful_ratio(first.res)
    m[f"{T}.quality_pass_s"] = _dur(tracer, traced, T, "quality_lang_id")


FILL = {"extract": _extract, "pit_ops": _pit_ops, "resume": _resume, "curate": _curate}
