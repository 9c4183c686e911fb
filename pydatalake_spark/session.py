"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's per-object DuckDB connection management
(``src/pydala/dataset/base.py:67-75`` — shared ``duckdb.connect()`` +
``SET temp_directory`` / ``SET memory_limit``) with one tuned SparkSession:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting) —
  the scale story for 100 TB runs.
- Arrow-backed pandas interchange (columnar edges, like the reference's
  zero-copy Arrow registration, ``reader.py:252``).
- UTC session timezone so timestamps agree with UTC-naive engines (DuckDB
  oracle parity).
- zstd parquet compression default (reference default: ``writer.py:33``).

Materialization rule: this module owns every cache and checkpoint the
library makes. ``.cache()``, ``.persist()`` and ``localCheckpoint`` are
called nowhere else, except a persist scoped to one call and released
in its ``finally``.

1. Caches. ``cache_once`` registers each cached plan in the ``memo``
   store, so every cache the library makes is under the store's bound
   and is unpersisted when the store drops it.
2. Clearing. A hit on a DataFrame that was cached when stored, but was
   dropped outside the store since (a catalog-wide cache clear,
   ``unpersist``), is cached again before it is returned. Callers never
   need to clear caches, and one who does loses no later hit.
3. Checkpoints. An iterative loop truncates lineage with ``_ckpt`` and
   hands each superseded generation, and its last one once nothing reads
   it, to ``_reap``. Checkpoint blocks are lineage, not a cache: they
   never enter the store and the bound never drops them.

Session memo rule: every Python-side memo (table loads, per-corpus
derivations, the dedup hot-key probe, cached plans) lives in the one
store behind ``memo``; a module-level memo dict of its own is never
added.

- Key: ``(applicationId, namespace, *rest)``. Entries of any other
  application are deleted on the next touch; their plans are bound to a
  stopped session, so they are dropped without being released.
- Freshness: an entry keeps the ``stamp`` it was built with and is
  rebuilt when a later call passes a different one. ``None`` is a stamp
  like any other, and a memoized ``None`` value is a hit.
- Bound: at most ``MEMO_MAX`` entries; the least recently used goes first.
- Release: a value dropped by the bound or by a stale stamp is
  ``unpersist``-ed when it has that method (a cached DataFrame).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "pydatalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    In local mode the driver is the only JVM; on a cluster the same config
    block is what you'd pass to spark-submit. Nothing here is
    local-mode-specific except the master default.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or max(DEFAULT_CPUS, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- planner / runtime adaptivity (the 100 TB story) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- columnar edges ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- deterministic semantics for oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # nanosecond parquet timestamps (events.ts) -> usec, not error
        .config("spark.sql.legacy.parquet.nanosAsLong", "false")
        # --- quieter local runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if "local" in master:
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def driver_bound(spark: SparkSession) -> int:
    """Bytes a driver-side tier may collect and hold: the least of
    ``spark.sql.autoBroadcastJoinThreshold`` (the most Spark itself
    collects to the driver to broadcast) and ``spark.driver.maxResultSize``
    (the most one action may return; 0 means unlimited). ``-1`` when the
    threshold is ``-1``: every driver-side tier is off and the operator
    runs its distributed plan."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold < 0:
        return -1
    result_max = result_cap(spark)
    return threshold if result_max == 0 else min(threshold, result_max)


def result_cap(spark: SparkSession) -> int:
    """``spark.driver.maxResultSize`` in bytes: the most one action may
    return to the driver (0 means unlimited)."""
    return spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )


def _is_cached(df: DataFrame) -> bool:
    sl = df.storageLevel  # resolved by plan equality in the CacheManager
    return sl.useMemory or sl.useDisk


def cache_once(df: DataFrame) -> DataFrame:
    """``df``, cached unless an EQUAL PLAN is cached already, with the
    plan registered in the ``memo`` store (rule 1). The entry is keyed
    by the plan's semantic hash and stamped with the canonical plan, so
    a plan-equal DataFrame built elsewhere hits it and no plan is cached
    twice (a bare ``.cache()`` would log ``Asked to cache already cached
    data``). An entry whose cache was dropped outside the store is
    re-cached from ``df``, never from the stored frame: an equal plan
    over a rewritten directory lists different files.

    A ``LocalRelation`` (rows a driver-side tier already holds) is
    returned as it is: collecting it fires no job, and caching it would
    only add a cache-build job."""
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation":
        return df
    if not _is_cached(df):
        df.cache()
    plan = df._jdf.queryExecution().normalized()
    memo(
        df.sparkSession,
        ("cache", plan.semanticHash()),
        lambda: df,
        stamp=plan.canonicalized(),
    )
    return df


MEMO_MAX = 256
_MEMO: dict[tuple, tuple[Hashable, Any, bool]] = {}


def _release(value) -> None:
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist()
        except Exception:  # best effort: a plain value or a gone plan
            pass


def memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], Any],
    stamp: Hashable = None,
    hits: dict | None = None,
):
    """The value memoized under ``key`` (``(namespace, *rest)``) for this
    application, or ``build()``'s result stored there. A hit with the
    same ``stamp`` returns the stored value (and counts in ``hits["n"]``
    when given), cached again first if it was cached when stored (rule
    2); a different stamp releases the stored value and rebuilds. The
    full rule is in the module docstring."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app_id]:
        del _MEMO[k]
    full = (app_id, *key)
    if full in _MEMO:
        old_stamp, value, cached = _MEMO.pop(full)
        if old_stamp == stamp:
            _MEMO[full] = (stamp, value, cached)  # now the most recently used
            if cached and not _is_cached(value):
                value.cache()
            if hits is not None:
                hits["n"] += 1
            return value
        _release(value)
    value = build()
    while len(_MEMO) >= MEMO_MAX:
        _release(_MEMO.pop(next(iter(_MEMO)))[1])
    cached = isinstance(value, DataFrame) and _is_cached(value)
    _MEMO[full] = (stamp, value, cached)
    return value


def _ckpt(df: DataFrame, eager: bool = True) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint`` plus the id of the one RDD it persisted, for
    ``_reap`` once no plan reads it (rule 3). With ``eager=False`` the
    caller must run an action that computes EVERY partition before
    relying on the truncated lineage.

    Checkpoint blocks stay in executor storage (spilling to disk) until
    the ContextCleaner collects the Python-unreachable RDD, so a loop
    that does not reap keeps one data-sized generation per round and can
    fill the local disk. The id is read off the checkpointed frame (its
    analyzed plan is the ``LogicalRDD`` over the persisted RDD), never
    by diffing the set of persistent RDDs: a concurrent job's checkpoint
    is that job's lineage and must never be reaped by mistake."""
    out = df.localCheckpoint(eager=eager)
    try:
        ids = [int(out._jdf.queryExecution().analyzed().rdd().id())]
    except Exception:  # pragma: no cover - py4j interop failure → no reaping
        ids = []
    return out, ids


def _reap(df: DataFrame, ids: list[int]) -> None:
    """Drop the checkpoint blocks behind ``ids`` (non-blocking). Safe
    only once every plan that reads them has materialized: checkpoint
    data is the lineage and cannot be recomputed."""
    if not ids:
        return
    try:
        rdds = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = rdds.get(i)
            if r is not None:
                r.unpersist(False)
    except Exception:  # pragma: no cover - reaping is best-effort
        pass
