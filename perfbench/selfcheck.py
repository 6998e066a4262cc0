"""Steadiness self-check for the benchmark.

Runs every workload of BENCHMARK.json ``--runs`` times per set, each run
with its own seed, interleaving the workloads so that a slow spell of
the host hits all of them alike. For each end-to-end metric it prints
the median, the quartiles and the spread (interquartile range over
median, from ``statistics.quantiles(values, n=4)``) against the metric's
bound; with ``--sets 2`` it also prints how far the second set's median
moved, in the metric's worse direction, from the first's. It ends with
the mean wall time of a run and what a budget of
``4 + 22 x workloads`` runs would then take. Each run's line shows the
host's CPU steal over the run, as context: a slow run on a shared host
shows there.

    python3 perfbench/selfcheck.py --runs 10 --sets 2
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _context(stdout: str) -> dict:
    """The JSON context of run.py's ``workload=...`` line."""
    for line in stdout.splitlines():
        if line.startswith("workload="):
            return json.loads(line[line.index("{"):])
    return {}


def run_once(spec, workload, seed, trace=0):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode != 0 or result is None or not result["correct"]:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return result, wall, _context(p.stdout)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]

    values = {(s, w): {} for s in range(args.sets) for w in names}
    walls = []
    for s in range(args.sets):
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            for w in names:
                res, wall, ctx = run_once(spec, w, seed)
                walls.append(wall)
                for k, v in res["metrics"].items():
                    values[(s, w)].setdefault(k, []).append(v["value"])
                for k in ("steal_frac_run", "timed_s"):
                    values[(s, w)].setdefault(k, []).append(ctx[k])
                print(f"set {s} {w} seed {seed}: {wall:.1f} s "
                      f"steal={ctx['steal_frac_run']:.3f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)

    ok = True
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':<18}{'set':>4}{'q1':>12}{'median':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}{'drift':>8}")
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            meds = []
            for s in range(args.sets):
                q1, md, q3, sp = spread(values[(s, w)][k])
                meds.append(md)
                drift = ""
                if s:
                    worse = (md - meds[0]) if m["better"] == "lower" else (meds[0] - md)
                    drift = worse / meds[0]
                    ok &= drift <= bound
                    drift = f"{drift:+.3f}"
                ok &= sp <= bound
                print(f"  {k:<18}{s:>4}{q1:>12.5g}{md:>12.5g}{q3:>12.5g}{sp:>9.3f}{bound:>7}{drift:>8}")
    mean_wall = statistics.mean(walls)
    n_runs = 4 + 22 * len(spec["workloads"])
    print(f"\nmean run {mean_wall:.1f} s; {n_runs} runs ~ {n_runs * mean_wall:.0f} s")
    out = os.path.join(HERE, ".work", f"selfcheck-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({f"{s}/{w}": v for (s, w), v in values.items()} | {"walls": walls}, f)
    print(f"{'within bounds' if ok else 'OUT OF BOUNDS'}; values in {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
