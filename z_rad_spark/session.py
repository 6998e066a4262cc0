"""SparkSession factory tuned for the transcript feature engine, plus the
engine's two pieces of per-process session state: the plan memo and the
persisted-intermediate registry.

Local testing runs on ``local[N]``; the same configuration names apply
unchanged on a multi-executor cluster (spark-submit --py-files). The
defaults below are the scale-relevant knobs:

* AQE on (runtime coalescing + skew-join splitting),
* Arrow on (all kernels are pandas/Arrow vectorized),
* shuffle partitions sized to the parallelism level instead of the 200
  default (at cluster scale this is set to ~2-3x total cores).
"""

from __future__ import annotations

import logging
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "z_rad_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    n_cores = int(os.cpu_count() or 32) if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 8)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(n_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "12g"),
        "spark.ui.enabled": "false",
        # The generated-class cache defaults to 100 entries; a session that
        # executes many distinct wide plans (this engine's 400+ query
        # registry; any long-lived analytics service) evicts everything
        # between repeats, so every re-run pays janino recompilation AND
        # a cold C2 JIT warm-up per codegen stage — measured 2-4x on the
        # window-chain queries when a 57-query sweep is repeated. Keep the
        # compiled classes warm; metaspace cost is a few hundred MB.
        "spark.sql.codegen.cache.maxEntries": "5000",
        # Wide feature plans (18-stat algebra, 25-feature texture reducers)
        # generate methods past HotSpot's 8000-bytecode compile limit; by
        # default those run INTERPRETED forever — thread dumps showed whole
        # queries burning 10-50x CPU in interpreted codegen after enough
        # distinct plans ran in one session. Compile huge methods and give
        # the JIT room; same flags go to executors on a real cluster.
        # 1g code cache (r6): a long sweep of hundreds of distinct wide
        # plans fills 512m and the JIT then flushes hot compiled methods —
        # queries late in a sweep measured ~2x their fresh-session cost.
        "spark.driver.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=2g",
        "spark.executor.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=2g",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(master).appName(app_name)
    spark = builder.config(map=conf).getOrCreate()
    # Static and core confs only take effect when this builder starts the
    # session; attaching to an existing one keeps that session's values
    # (runtime confs are re-applied). Say so instead of silently losing
    # e.g. the codegen-cache size above.
    for k, v in conf.items():
        got = spark.conf.get(k, None)
        if got != v:
            _log.warning(
                "get_spark: %s=%r was requested but the existing session keeps %r "
                "(a static conf only applies when the session is first created)",
                k, v, got,
            )
    return spark


#: LRU bound of the plan memo; the entry module's source frames and the
#: as-of builders add about 16 keys per input directory
_MEMO_SIZE = 64
_MEMO: OrderedDict = OrderedDict()
_PERSISTED: list[DataFrame] = []
_LOCK = threading.Lock()


def memo_plan(spark: SparkSession, key: tuple, build, pin=None):
    """Return the frame ``build()`` made for ``key`` in this application,
    building it on a miss.

    Only *plans* are memoized: ``build`` must run no job, so nothing
    material is held and every action still computes from the inputs.
    Keys start with the applicationId and each insert drops the entries
    of other (dead) applications; the 64 most recently used entries are
    kept. A hit also needs the stored ``pin`` to be the caller's (``is``),
    so a key built from ``id(frame)`` never aliases a recycled id.

    Inputs are assumed static: a plan over files captures their listing
    and schema, so rewriting the files under a memoized path within one
    application serves the old plan (stale rows or a
    FileNotFoundException). Start a new application after rewriting.
    """
    app = spark.sparkContext.applicationId
    full = (app, *key)
    with _LOCK:
        hit = _MEMO.get(full)
        if hit is not None and hit[0] is pin:
            _MEMO.move_to_end(full)
            return hit[1]
    out = build()
    with _LOCK:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        _MEMO[full] = (pin, out)
        _MEMO.move_to_end(full)
        if len(_MEMO) > _MEMO_SIZE:
            _MEMO.popitem(last=False)
    return out


def persist_intermediate(df: DataFrame) -> DataFrame:
    """Persist a multi-consumed intermediate of a lazy operator result
    (the operator cannot unpersist it: the result is evaluated after it
    returns) and register it for :func:`unpersist_intermediates`."""
    df = df.persist()
    with _LOCK:
        _PERSISTED.append(df)
    return df


def unpersist_intermediates() -> None:
    """Release every intermediate persisted through
    :func:`persist_intermediate`. Call it after the final action on the
    operators' results; long-lived sessions should, to keep executor
    storage bounded."""
    with _LOCK:
        frames = _PERSISTED[:]
        _PERSISTED.clear()
    for df in frames:
        df.unpersist()
