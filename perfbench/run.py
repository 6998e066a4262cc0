"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

The run generates its inputs from ``--seed``, sets up the program's
Spark session (``session.get_spark`` on ``local[nproc]``, which launches
the JVM) and loads the inputs, takes the first pass over fresh plans and
the workload's untimed warm passes, then times warm passes for
``--seconds``. Every pass's outputs are checked. Human-readable lines
come first; the last line of standard output is one JSON object with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_TIMED = 3  # timed passes per run, at least: a median that one slow pass cannot move
MIN_TRACED = 2  # a traced run: untraced and traced timed passes, at least, of each kind


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and give the
    JVM and the Python workers a fixed, small configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def host_probe() -> float:
    """bench.py's single-threaded np.sort probe, in seconds: context for
    a run's host speed, never a metric and never used to rescale one."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal(2_000_000)
    np.sort(a)
    t0 = time.time()
    for _ in range(8):
        np.sort(a)
    return round(time.time() - t0, 3)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    ``cpu_jiffies`` readings: context for a run, never a metric."""
    return round((b[0] - a[0]) / max(b[1] - a[1], 1), 4)


def _stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Pass:
    wall: float  # seconds, less the pass's untimed checks
    cpu: float  # process-tree CPU seconds, less the untimed checks
    res: dict  # operation name -> its results
    errs: list  # operations that raised
    span_range: tuple  # [start, end) of the spans the pass recorded


class Runner:
    def __init__(self, wl, ctx):
        self.wl, self.ctx, self.tracer = wl, ctx, ctx.tracer
        self.rider_errs: list[str] = []

    def session(self, cores: int):
        from z_rad_spark.session import get_spark

        with self.tracer.span("session", "get_spark"):
            spark = get_spark(
                f"perfbench-{self.wl.name}", cores=cores,
                extra_conf={"spark.ui.showConsoleProgress": "false",
                            "spark.z_rad_spark.extract.buckets": "16"})
        spark.sparkContext.setLogLevel("ERROR")
        self.ctx.spark = spark
        self.tracer.sc = spark.sparkContext

    def setup(self, cores: int) -> float:
        t0 = time.perf_counter()
        if self.ctx.spark is not None:
            self.tracer.sc = None
            self.ctx.spark.stop()
        self.session(cores)
        self.wl.load(self.ctx)
        return time.perf_counter() - t0

    def run_pass(self, ops) -> Pass:
        import spans as tr

        ctx, tracer = self.ctx, self.tracer
        ctx.untimed_s = ctx.untimed_cpu_s = 0.0
        i0 = len(tracer.spans)
        res, errs = {}, []
        c0 = sum(tr.cpu_by_role().values())
        t0 = time.perf_counter()
        with tracer.span("workload", "pass"):
            for op in ops:
                with tracer.span(op.layer, op.name):
                    try:
                        res[op.name] = op.run(ctx)
                    except Exception as e:  # a failed operation is counted, not fatal
                        errs.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
        wall = time.perf_counter() - t0 - ctx.untimed_s
        cpu = sum(tr.cpu_by_role().values()) - c0 - ctx.untimed_cpu_s
        return Pass(wall, cpu, res, errs, (i0, len(tracer.spans)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "z_rad_spark")) or not os.path.isfile(bench_json):
        print(f"perfbench: no z_rad_spark package and BENCHMARK.json under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)

    sys.path[:0] = [HERE, ROOT]
    import layers
    import spans as tr
    from spans import med
    from workloads import WORKLOADS, Ctx, check

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    cores = len(os.sched_getaffinity(0))
    tracer = tr.Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(work, args.seed, cores, tracer)
    runner = Runner(wl, ctx)

    wl.generate(ctx)  # the benchmark's own work: not part of setup_s
    j_run = cpu_jiffies()
    try:
        setup_s = runner.setup(cores)
        ops = wl.ops(ctx)
        first = runner.run_pass(ops)
        tracer.enabled = False
        warm = [runner.run_pass(ops) for _ in range(wl.warmups)]
        # timed window; a traced run alternates untraced and traced passes
        timed, traced = [], []
        j_timed = cpu_jiffies()
        t_end = time.perf_counter() + args.seconds
        n_min = MIN_TRACED if args.trace else MIN_TIMED
        while (len(timed) < n_min or time.perf_counter() < t_end
               or (args.trace and len(traced) < n_min)):
            tracer.enabled = bool(args.trace) and (len(timed) + len(traced)) % 2 == 1
            p = runner.run_pass(ops)
            (traced if tracer.enabled else timed).append(p)
        j_end = cpu_jiffies()
        tracer.enabled = bool(args.trace)

        passes = [first] + warm + timed + traced
        errs = check(wl, passes)
        attempted = len(ops) * len(passes)
        failed = sum(len(p.errs) for p in passes) + len(errs)

        rows = wl.rows
        e2e = {
            "setup_s": setup_s,
            "first_pass_s": first.wall,
            "rows_per_s": rows / med(p.wall for p in timed),
            "cpu_s_per_Mrows": med(p.cpu for p in timed) / rows * 1e6,
        }
        if args.trace:
            per_layer = layers.per_layer(runner, first, timed, traced,
                                         [m["name"] for m in spec["per_layer"]])
            errs += runner.rider_errs
            failed += len(runner.rider_errs)
        probe_ctx = {"nproc": cores, "setup_s": setup_s, "first_pass_s": first.wall,
                     "warmup_s": [p.wall for p in warm],
                     "timed_s": [p.wall for p in timed],
                     "traced_s": [p.wall for p in traced],
                     "steal_frac_run": steal_frac(j_run, j_end),
                     "steal_frac_timed": steal_frac(j_timed, j_end)}
        if args.trace:
            tracer.dump(os.path.join(work, f"spans-seed{args.seed}.json"))
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
    probe_ctx["host_probe_s"] = host_probe()

    for msg in [m for p in passes for m in p.errs] + errs:
        print(f"CHECK FAILED: {msg}")
    print(f"workload={wl.name} seed={args.seed} rows={rows} ops_per_pass={len(ops)} "
          f"timed_passes={len(timed)} {json.dumps(probe_ctx)}")
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    metrics = {}
    for m in metrics_spec:
        v = values[m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:<40} {v:>14.6g} {m['unit']}")
    print(f"  {'ops_failed_frac':<40} {failed / attempted:>14.6g} ratio "
          f"({failed}/{attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
