"""``mr`` — spirit-faithful port of the reference's public API.

The reference's entire "UDF surface" is four function pointers and
three functions (mapreduce.h:5-23):

    Mapper       void (*)(char* file_name)            mapreduce.h:7
    Reducer      void (*)(char*, Getter, int)         mapreduce.h:10
    Partitioner  unsigned long (*)(char*, int)        mapreduce.h:11
    MR_Emit, MR_DefaultHashPartition, MR_Run          mapreduce.h:14-23

This module re-expresses that contract Spark-first:

- ``Mapper`` here maps one input *record* (not a file — Spark's
  scheduler owns file→task assignment, replacing the round-robin
  deal at mapreduce.c:163-189) to an iterable of (key, value) pairs.
  Yielding pairs IS ``MR_Emit``; there is no side-effecting emit
  because the shuffle is engine-managed, not a locked shared array
  (mapreduce.c:37-55).
- ``Reducer`` receives (key, values, partition_id) exactly like
  ``Reduce(key, get_next, partition_number)`` (mapreduce.h:10):
  ``values`` is the key's full value multiset — the same contract as
  draining ``get_next`` until NULL (mapreduce.c:57-67). Per-key
  value order is unspecified in the reference (unstable qsort on
  keys only, SURVEY §1.3), so an order-insensitive reducer is the
  only correct reducer there too.
- ``Partitioner`` is a Catalyst *expression factory*
  ``(key_col, n) -> pid_col`` rather than a C function pointer, so
  partition-id computation stays JVM-side, with no Python crossing.
  The default is the bit-exact djb2 of MR_DefaultHashPartition
  (mapreduce.c:88-94). It is not codegen'd: djb2 folds the key's
  characters through higher-order functions, which Spark interprets
  row by row: on 953 983 pairs from 16k documents (4 vCPUs, warm)
  it cost ~0.9 s (``mr_run_agg`` 1.92 s per pair, 0.99 s per
  distinct key), so both entries evaluate it on as few rows as they
  can.
- ``Combiner`` is Hadoop's map-side pre-reduce (Dean & Ghemawat,
  OSDI 2004, §4.3): ``combiner(key, values) -> str`` folds one Arrow
  batch's values of a key into one value before the shuffle. The
  reducer then sees combiner outputs, so a job opts in only when its
  reducer accepts them (``mr_wordcount``'s sums ``int(v)``, which is
  right with or without it). Without a combiner the reducer sees the
  mapper's raw value multiset, as in the reference.

Execution shape (one job): ``mapInPandas`` (Arrow-batched flatMap,
then the combiner if any) → pid column → hash shuffle on pid →
per-partition key sort → streaming grouped scan (``mapInPandas``
with a cross-batch run carry). That is the reference pipeline move
for move — shuffle (mapreduce.c:37-55), per-partition qsort
(mapreduce.c:225-228), reduce loop (mapreduce.c:127-138) — with
Spark's shuffle standing in for the locked shared arrays and Python
overhead paid per Arrow batch, not per key. A combiner shrinks
everything after the map: ``mr_wordcount`` at 16k documents ships
127 504 rows instead of 953 983.

Scale notes (100 TB): the map phase is narrow and Arrow-batched; the
reduce phase holds ONE KEY GROUP per pandas frame in executor
memory. That matches the reference (which also materializes each
key's run in RAM) but a combinable reduction (count/sum/min/max)
should use :func:`mr_run_agg` instead — pure Catalyst, map-side
partial aggregation, no Python in the hot path, and the partitioner
evaluated once per distinct key. ``mr_run`` is the general contract;
``mr_run_agg`` is the fast path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import djb2_partition

# Mirrors the reference's defaults: main.c:64 runs 10 reducers, so
# n_partitions = 10 (mapreduce.c:144).
DEFAULT_NUM_REDUCERS = 10

Mapper = Callable[[Any], Iterable[tuple[str, str]]]
Reducer = Callable[[str, Iterator[str], int], Any]
Partitioner = Callable[[Column, int], Column]
Combiner = Callable[[str, Iterator[str]], str]


def default_hash_partition(key: Column, n_partitions: int) -> Column:
    """``MR_DefaultHashPartition`` (mapreduce.c:88-94): bit-exact
    djb2 mod n, as a pure Catalyst expression."""
    return djb2_partition(key, n_partitions)


def _pairs(
    df: DataFrame,
    mapper: Mapper,
    input_col: str,
    num_mappers: int | None,
    combiner: Combiner | None = None,
) -> DataFrame:
    """Map phase shared by mr_run / mr_run_agg: Arrow-batched flatMap
    of the user mapper into (key, value) string pairs.

    ``num_mappers`` is the reference's map-parallelism knob
    (``MR_Run``'s round-robin file deal, mapreduce.c:163-189),
    re-expressed as a round-robin ``repartition`` of the source ahead
    of the flatMap. Default (None) lets the engine pick
    ``defaultParallelism`` — without this, map parallelism equals the
    source's split count, and a single-file source would run the
    whole Python map phase (and the djb2 fold above it) on one core.

    ``combiner`` (see the module docstring) folds each key's values
    within one Arrow batch, so a batch emits one row per distinct key."""
    src = df.select(input_col)
    n = num_mappers or df.sparkSession.sparkContext.defaultParallelism
    if n > 1:
        src = src.repartition(n)

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # C-level list comprehension instead of nested appends —
            # this per-record loop is the compat layer's hot path
            kv = [p for rec in pdf[input_col] for p in mapper(rec)]
            if combiner is not None:
                runs: dict[str, list] = {}
                for k, v in kv:
                    runs.setdefault(k, []).append(v)
                kv = [(k, combiner(k, iter(vs))) for k, vs in runs.items()]
            yield pd.DataFrame({
                "key": pd.Series([p[0] for p in kv], dtype="object"),
                "value": pd.Series([p[1] for p in kv], dtype="object"),
            })

    return src.mapInPandas(_map_batches, schema="key string, value string")


def mr_run(
    df: DataFrame,
    mapper: Mapper,
    reducer: Reducer,
    num_reducers: int = DEFAULT_NUM_REDUCERS,
    partitioner: Partitioner | None = None,
    input_col: str | None = None,
    value_type: str = "string",
    sort_output: bool = False,
    num_mappers: int | None = None,
    combiner: Combiner | None = None,
) -> DataFrame:
    """``MR_Run`` (mapreduce.h:18-23, mapreduce.c:141-253) as one
    Spark job over a DataFrame source.

    Parameters mirror the reference signature: ``mapper`` replaces
    ``Map`` (+ the implicit ``MR_Emit``), ``reducer`` replaces
    ``Reduce`` (+ ``get_next`` drained to exhaustion), ``num_reducers``
    sets the partition count, ``partitioner`` defaults to djb2,
    ``num_mappers`` the map parallelism (None = engine-chosen; see
    ``_pairs``). The file-list argv has no analog: the input is any
    DataFrame. ``combiner`` (default None) pre-reduces each map
    batch; with None the reducer sees every value the mapper emitted.

    ``sort_output=True`` reproduces the *sequential* engine's
    observable global key order (sequential_mapreduce.c:81) — the
    concurrent engine guarantees only per-partition order, which is
    not visible in a keyed result set.

    Returns a DataFrame ``(pid int, key string, value <value_type>)``.
    """
    if partitioner is None:
        partitioner = default_hash_partition
    if input_col is None:
        input_col = df.columns[0]

    pairs = _pairs(df, mapper, input_col, num_mappers, combiner)
    keyed = pairs.withColumn(
        "pid", partitioner(F.col("key"), num_reducers).cast("int")
    )

    out_schema = f"pid int, key string, value {value_type}"

    def _reduce_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Keys arrive sorted within the partition (the A7 contract,
        # mapreduce.c:225-228), so each key's run is contiguous — but
        # a run may straddle Arrow batch boundaries. Carry the
        # trailing run between batches and call the reducer exactly
        # once per distinct key, in ascending key order: this IS the
        # reference's reduce loop (mapreduce.c:127-138) with Python
        # overhead per Arrow batch, not per key (the applyInPandas
        # formulation paid one pandas frame per key — ~10^3 more
        # framework crossings than reducer work on real vocab sizes).
        import numpy as np

        pend_key = None
        pend_pid = 0
        pend_vals: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["key"].to_numpy()
            pids = pdf["pid"].to_numpy()
            vals = pdf["value"].to_numpy()
            idx = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            bounds = [0, *idx.tolist(), len(keys)]
            out_pid: list = []
            out_key: list = []
            out_val: list = []
            for s, e in zip(bounds[:-1], bounds[1:]):
                if pend_key is not None and keys[s] == pend_key:
                    pend_vals.extend(vals[s:e])
                    continue
                if pend_key is not None:
                    out_pid.append(pend_pid)
                    out_key.append(pend_key)
                    out_val.append(reducer(pend_key, iter(pend_vals), pend_pid))
                pend_key = keys[s]
                pend_pid = int(pids[s])
                pend_vals = list(vals[s:e])
            if out_key:
                yield pd.DataFrame(
                    {"pid": out_pid, "key": out_key, "value": out_val}
                )
        if pend_key is not None:
            yield pd.DataFrame(
                {
                    "pid": [pend_pid],
                    "key": [pend_key],
                    "value": [reducer(pend_key, iter(pend_vals), pend_pid)],
                }
            )

    # One shuffle on pid (a pure function of key, so every key's run
    # lands whole in one of num_reducers partitions — A5/A6), then a
    # local key sort (A7) and a streaming grouped scan (A8).
    out = (
        keyed.repartition(num_reducers, "pid")
        .sortWithinPartitions("key")
        .mapInPandas(_reduce_stream, out_schema)
    )
    return out.orderBy("key") if sort_output else out


def mr_run_rdd(
    df: DataFrame,
    mapper: Mapper,
    reducer: Reducer,
    num_reducers: int = DEFAULT_NUM_REDUCERS,
    input_col: str | None = None,
) -> DataFrame:
    """The A5–A8 contract at the RDD level, with BIT-EXACT partition
    placement: djb2(key) % n decides the physical partition (A5,
    mapreduce.c:88-94), keys are sorted bytewise ascending WITHIN
    each partition (A7, qsort cmp mapreduce.c:69-73 applied at
    225-228), and the reducer drains each key's contiguous run
    exactly like get_next (A8, mapreduce.c:57-67) — reducer call
    order per partition IS the reference's reduce loop order
    (mapreduce.c:127-138).

    This is `repartitionAndSortWithinPartitions` + a streaming
    per-partition grouped scan — the one case SURVEY §1.4 reserves
    for the RDD API, because partition *placement* and in-partition
    *visit order* are not observable through a DataFrame result set.
    ``mr_run`` (Arrow path) is faster; this one is the letter of the
    reference contract. Returns (pid, key, value string) with values
    stringified (the reference's values are always C strings).
    """
    if input_col is None:
        input_col = df.columns[0]

    def _djb2(key: str) -> int:
        # Bit-exact with MR_DefaultHashPartition (mapreduce.c:88-94)
        # for ANY input: the C loop consumes *signed* chars of the
        # UTF-8 byte string, so hash encoded bytes (reinterpreted
        # signed) rather than Unicode codepoints — identical for
        # ASCII, and matches the reference for multi-byte text too.
        h = 5381
        for byte in key.encode("utf-8"):
            c = byte - 256 if byte >= 128 else byte
            h = (h * 33 + c) % (1 << 64)
        return h % num_reducers

    def _flat_map(rec) -> Iterable[tuple[str, str]]:
        return mapper(rec[0])

    def _reduce_partition(split_index: int, pairs):
        # pairs arrive key-sorted; group contiguous runs lazily and
        # hand the reducer a value iterator per distinct key — the
        # get_next contract without materializing the run
        from itertools import groupby

        for key, run in groupby(pairs, key=lambda kv: kv[0]):
            yield (split_index, key, str(reducer(key, (v for _, v in run), split_index)))

    shuffled = (
        df.select(input_col)
        .rdd.flatMap(_flat_map)
        .repartitionAndSortWithinPartitions(
            numPartitions=num_reducers,
            partitionFunc=_djb2,
            ascending=True,
            keyfunc=lambda k: k,
        )
    )
    out = shuffled.mapPartitionsWithIndex(_reduce_partition)
    return out.toDF(["pid", "key", "value"])


def mr_run_agg(
    df: DataFrame,
    mapper: Mapper,
    agg: Column,
    num_reducers: int = DEFAULT_NUM_REDUCERS,
    partitioner: Partitioner | None = None,
    input_col: str | None = None,
    num_mappers: int | None = None,
) -> DataFrame:
    """Combinable-reducer fast path: same map contract, but the
    reduction is a Catalyst aggregate expression over the ``value``
    column (e.g. ``F.count('*')``, ``F.sum('value')``) — map-side
    partial aggregation, no per-group pandas materialization. This is
    what the reference's count-reducer (main.c:33-43) *means*, minus
    the iterator plumbing.

    The partial aggregate groups on ``key`` alone and the partitioner
    runs on its output, once per distinct key rather than once per
    pair; ``pid`` is a function of ``key``, so the rows are the same."""
    if partitioner is None:
        partitioner = default_hash_partition
    if input_col is None:
        input_col = df.columns[0]

    pairs = _pairs(df, mapper, input_col, num_mappers)
    return pairs.groupBy("key").agg(agg.alias("value")).select(
        partitioner(F.col("key"), num_reducers).cast("int").alias("pid"),
        "key",
        "value",
    )
