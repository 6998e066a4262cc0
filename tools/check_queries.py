"""Local mirror of the driver's correctness gate: run every
__spark_entry__ query on Spark AND its DuckDB oracle, compare row count,
column names, and values (column-name-sorted, order-insensitive).

STRICT mode (default, matches the driver): the driver hashes the
6dp-rounded values EXACTLY, so any cross-engine ULP difference that
crosses a rounding boundary is a hard fail. Set STRICT=0 in the
environment for the older tolerance compare (atol=1.5e-6) when
bisecting.

Usage: python tools/check_queries.py [sf_dir] [only...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# check the checkout this script belongs to, wherever it is run from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

STRICT = os.environ.get("STRICT", "1") != "0"


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"schema: spark={sorted(got.columns)} duck={sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"rowcount: spark={len(got)} duck={len(want)}")
        return problems
    g = norm_frame(got)
    w = norm_frame(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(g[c].dtype, np.floating):
            gf, wf = gv.astype(float), wv.astype(float)
            if STRICT:
                # exact equality of the 6dp-rounded doubles — what the
                # driver's value hash enforces
                ok = gf == wf
            else:
                ok = np.isclose(gf, wf, rtol=0, atol=1.5e-6, equal_nan=True)
            gnan = pd.isna(gv)
            wnan = pd.isna(wv)
            ok = ok | (gnan & wnan)
            bad = ~ok
        else:
            bad = ~(pd.Series(gv).fillna("<NULL>").eq(pd.Series(wv).fillna("<NULL>"))).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(
                f"values[{c}]: {int(bad.sum())}/{len(bad)} differ; first at row {i}: spark={gv[i]!r} duck={wv[i]!r}"
            )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from z_rad_spark.session import get_spark

    spark = get_spark("check_queries", cores=8)

    # DuckDB memory discipline, tuned by failure mode (2026-08-18):
    # the default memory_limit is 80% of RAM but the sandbox caps the
    # PROCESS far lower, and a long-lived connection's buffer pool grows
    # monotonically across 160+ oracle queries (nothing evicts while
    # under its own limit) until tiny mallocs fail ("Failed to allocate
    # block of 3420 bytes" with 124 GB system-free). Strategy: a cap
    # applied to a FRESH connection per oracle below. The cap is a
    # quarter of physical memory, at most 12 GB (the GLCM matrix
    # replays, the heaviest oracles, peak at ~8-10 GB of unspillable list
    # aggregates on large inputs): the Spark driver (12g heap) shares the
    # box, and on a 15 GB box a fixed 12 GB cap next to it segfaulted
    # the sweep (exit 139) at q_target_encode. SPARK_GRAFT_DUCK_MEM overrides when the box is
    # under concurrent memory pressure (e.g. parallel sweep chunks): a
    # smaller cap makes DuckDB spill instead of failing tiny mallocs at
    # the process ceiling.
    # Each oracle runs single-threaded: with worker threads, DuckDB's
    # allocations for q_mi_assoc's wide fold left ~60k small anonymous
    # mappings in this process even after the connection closed, so the
    # next oracle's mallocs failed at vm.max_map_count (65530) — "Failed
    # to allocate block of 16384 bytes (bad allocation)" with GBs free,
    # or a segfault. One thread keeps the process at ~700 mappings.
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM", f"{min(phys_mib // 4, 12 * 1024)}MiB")

    def fresh_con():
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{duck_mem}'")
        c.execute("SET threads=1")
        c.execute("SET temp_directory='/tmp/duckdb_mirror_spill'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    qs = e.queries()
    orc = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in orc:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            continue
        # One fresh connection PER ORACLE: closing the connection frees
        # its buffer pool, so the python process's steady-state DuckDB
        # footprint is a single query's peak instead of the sweep's
        # monotone accumulation (which intermittently breached the
        # sandbox's process ceiling even under a 12 GB cap — the
        # reconnect-on-OOM retry itself OOM'd once). View creation over
        # parquet is metadata-only (~ms), negligible against the query.
        want = None
        err = None
        for attempt in range(2):
            try:
                con = fresh_con()
                try:
                    want = con.execute(orc[name]).fetchdf()
                finally:
                    con.close()
                err = None
                break
            except Exception as ex:
                err = ex
                if "Out of Memory" not in str(ex):
                    break
                import gc

                gc.collect()
                time.sleep(2.0)
        if err is not None:
            print(f"FAIL  {name}: duckdb error: {str(err)[:300]}")
            failures += 1
            continue
        problems = compare(got, want)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + " | ".join(problems[:4]))
        else:
            print(f"OK    {name}: {len(got)} rows, {len(got.columns)} cols")
    spark.stop()
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
