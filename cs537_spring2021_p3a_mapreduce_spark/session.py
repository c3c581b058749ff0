"""SparkSession construction with scale-oriented defaults.

The reference hard-codes its parallelism (10 mappers / 10 reducers,
main.c:64) and keeps every kv pair resident in memory with no spill
(mapreduce.c:76-83). Here the equivalents are cluster-managed:
shuffle partitions, AQE coalescing/skew-splitting, and spillable
shuffle state are all engine concerns. These defaults are what we
would ship to a 1000-executor cluster, minus the local[] master.

Two shuffle widths: batch plans start at AQE's initial partition
number (32) and AQE coalesces from there; streaming state stores and
``foreachBatch`` frames (AQE off) shuffle at
``spark.sql.shuffle.partitions``, which ``get_spark`` sets to the
cores the session got. The engine's drains take one rule in any
session: ``min(spark.sql.shuffle.partitions, defaultParallelism,
cores)`` (``streaming._drain_width``).

Cached relations coalesce too: a ``track_persist``ed plan keeps the
partitioning AQE chose for it, so a later scan of a small cache runs a
few tasks instead of one per initial shuffle partition.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not the local test rig:
# - AQE on: runtime partition coalescing, skew-join splitting, and
#   dynamic broadcast-join demotion/promotion replace any hand tuning.
# - Batch shuffles start 32 wide (initialPartitionNum); AQE coalesces.
#   Streaming state and foreachBatch frames get no AQE and shuffle at
#   shuffle.partitions, which get_spark derives from the cores; the
#   engine's drains cap it at the cores in any session.
# - AQE may change a cached plan's output partitioning. Spark's default
#   (false) caches a relation at the 32 uncoalesced initial partitions,
#   so every later scan of a persisted intermediate ran 32 near-empty
#   tasks; with it on, the cache keeps AQE's coalesced width. A cache
#   that loses its hash partitioning can cost a downstream re-shuffle:
#   compare the oracle gate's executed-plan counts with and without the
#   conf (PYSPARK_SUBMIT_ARGS sets it in the gate's vanilla session).
# - Arrow on: every pandas_udf / applyInPandas crossing is batched.
# - Python workers fork from _pydaemon, not pyspark.daemon: the stock
#   worker re-reads every cached zip importer's directory (pyspark.zip,
#   py4j, the spark-core jar) at the start of each task, 140-230 ms of
#   CPU per task on Python 3.11. 40 no-op mapInPandas tasks took
#   2.88-3.01 s with it and 0.82-1.04 s without (4 vCPUs, warm).
#   Workers must import the package, as they must for its
#   pickled-by-reference closures.
# - UTC session timezone: deterministic event-time semantics and
#   parity with the DuckDB oracle's naive timestamps.
_SCALE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.python.daemon.module": "cs537_spring2021_p3a_mapreduce_spark._pydaemon",
    "spark.sql.parquet.filterPushdown": "true",
    # allow custom Python data sources to absorb filters (linescan grep)
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # The events fixture stores TIMESTAMP(NANOS) parquet, which Spark
    # has no native type for; read as epoch-nanos long and convert in
    # the catalog (catalog.table) with integer µs truncation — the
    # same conversion DuckDB applies, so event-time semantics agree.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Progress bars interleave with captured stdout in the driver's
    # harness; keep output machine-readable.
    "spark.ui.showConsoleProgress": "false",
    # Keep implicit driver-side materialization honest: operators in
    # this repo never collect(); the driver does that at the end.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "cs537-p3a-spark", master: str | None = None) -> SparkSession:
    """Return (or create) the tuned session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster the caller passes None and spark-submit supplies it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in _SCALE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # A stream fixes its state-store partition count at its first
    # checkpoint and AQE never coalesces it: one state partition per core.
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark


# ---------------------------------------------------------------------------
# Persisted-frame lifecycle.
#
# Several operators persist an intermediate that the RETURNED plan (or an
# internal training loop) reads more than once — a diamond the optimizer
# won't collapse because the downstream filters differ. The persist is the
# right plan shape, but a long-lived session running hundreds of queries
# (bench.py, the driver's correctness gate) would otherwise accumulate
# every query's cache entries: cached DataFrames live in the session's
# CacheManager and are NOT garbage-collected when the Python handle dies.
# Operators therefore persist through track_persist(), and batch runners
# call release_persisted() after each query's terminal action.
# ---------------------------------------------------------------------------

_TRACKED_PERSISTS: list = []


def track_persist(df, level=None):
    """persist() a DataFrame and register it for release_persisted().

    ``level`` defaults to MEMORY_AND_DISK (spillable — the only level
    operators in this repo use; OOM-safe on executors at scale).
    """
    if level is None:
        from pyspark.storagelevel import StorageLevel

        level = StorageLevel.MEMORY_AND_DISK
    df = df.persist(level)
    _TRACKED_PERSISTS.append(df)
    return df


def release_tracked(df) -> None:
    """Unpersist ONE frame persisted through track_persist() and drop it
    from the release list — for a cache that lives only inside the call
    that made it (a ``finally``), so a long stream of such calls holds
    no stale handles between release_persisted() points."""
    df.unpersist(blocking=False)
    try:
        # one C-level call (DataFrame has no __eq__: identity match), so
        # a concurrent track_persist() from another thread is never lost
        _TRACKED_PERSISTS.remove(df)
    except ValueError:
        pass  # already released by release_persisted()


def release_persisted() -> int:
    """Unpersist every tracked frame; returns how many were released.

    Non-blocking: the executors drop blocks asynchronously. Safe to call
    even if a frame's plan is re-collected later — Spark recomputes an
    unpersisted lineage, so this is a performance boundary, never a
    correctness one.
    """
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped: nothing to release
    return n


def unload_state_providers(spark) -> None:
    """Drop the in-memory state-store providers retained from
    terminated streaming queries. The underlying ``StateStore.stop()``
    call is GLOBAL: it unloads ALL loaded providers (and stops the
    maintenance thread), not just those of terminated queries — so
    this helper refuses to run while any stream is still active
    (an active query would have to reload its state from checkpoint
    on the next batch: correct by the checkpoint contract, but a
    pointless perf hit and a task-retry risk in local mode).

    A long-lived session that drains hundreds of bounded streams (the
    driver's gate, bench.py) otherwise keeps every drain's HDFS-backed
    provider maps on heap until the provider-maintenance tick (60 s
    default) unloads them — measured at sf0.1: back-to-back LSH-join
    drains escalate 18 s → 55 s per run from the accumulated heap
    pressure, and hold flat at 2-7 s with prompt unload. Callers
    invoke this between queries / after awaitTermination, where every
    query is terminated. On a real cluster the call touches the
    driver-local providers only; executor providers unload via the
    coordinator's deactivation broadcast as usual. No-op on sessions
    without a JVM gateway. Each kind of skip (active stream, failed
    JVM call) is logged once to stderr, not swallowed silently."""
    try:
        if spark.streams.active:
            _warn_unload_once("active", "skipped while a stream is active")
            return
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception as exc:
        _warn_unload_once("jvm", f"JVM call failed ({exc!r})")


_UNLOAD_WARNED: set[str] = set()


def _warn_unload_once(kind: str, why: str) -> None:
    if kind not in _UNLOAD_WARNED:
        _UNLOAD_WARNED.add(kind)
        print(
            f"unload_state_providers: {why}; "
            "state providers will unload on the maintenance tick",
            file=sys.stderr,
        )
