"""mr compat layer: the reference's 4-function API contract
(mapreduce.h:5-23) holds under the Spark re-expression."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.catalog import table
from cs537_spring2021_p3a_mapreduce_spark.functions.text import djb2_partition
from cs537_spring2021_p3a_mapreduce_spark.mr import mr_run, mr_run_agg
from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
    mr_wordcount,
    wordcount,
)

SF_SMOKE = "/root/testdata/sf0.001"


# NB: mapper/reducer must be defined as closures (or in an importable
# package module), not at this test module's top level — Spark workers
# unpickle local functions by value but module functions by reference,
# and `test_mr` is not importable on the worker.


def _tok_mapper():
    return lambda line: ((tok, "1") for tok in line.split())


def _count_reducer():
    return lambda key, values, pid: sum(1 for _ in values)


def test_mr_wordcount_matches_dataframe_wordcount(spark):
    via_mr = {
        (r.token, r.cnt) for r in mr_wordcount(spark, SF_SMOKE).collect()
    }
    via_df = {(r.token, r.cnt) for r in wordcount(spark, SF_SMOKE).collect()}
    assert via_mr == via_df
    assert len(via_mr) > 0


def test_mr_run_agg_fast_path_matches_general_path(spark):
    docs = table(spark, SF_SMOKE, "documents").select("text")
    slow = mr_run(docs, _tok_mapper(), _count_reducer(), value_type="long")
    fast = mr_run_agg(docs, _tok_mapper(), F.count("*"))
    assert {(r.pid, r.key, r.value) for r in slow.collect()} == {
        (r.pid, r.key, r.value) for r in fast.collect()
    }


def test_combiner_keeps_rows_and_shrinks_map_output(spark):
    from cs537_spring2021_p3a_mapreduce_spark.mr import _pairs

    docs = table(spark, SF_SMOKE, "documents").select("text")

    def combiner(key, values):
        return str(sum(int(v) for v in values))

    def reducer(key, values, pid):
        return sum(int(v) for v in values)

    plain = mr_run(docs, _tok_mapper(), reducer, value_type="long")
    combined = mr_run(docs, _tok_mapper(), reducer, value_type="long",
                      combiner=combiner)
    want = {(r.pid, r.key, r.value) for r in plain.collect()}
    assert want and {(r.pid, r.key, r.value) for r in combined.collect()} == want
    raw = _pairs(docs, _tok_mapper(), "text", None).count()
    assert _pairs(docs, _tok_mapper(), "text", None, combiner).count() < raw


def test_partition_ids_are_bitexact_djb2(spark):
    docs = table(spark, SF_SMOKE, "documents").select("text")
    out = mr_run(docs, _tok_mapper(), _count_reducer(), num_reducers=10,
                 value_type="long")
    expected = out.select(
        "key", djb2_partition(F.col("key"), 10).cast("int").alias("want"),
        "pid",
    )
    assert expected.filter(F.col("pid") != F.col("want")).count() == 0


def test_custom_partitioner_is_honored(spark):
    docs = table(spark, SF_SMOKE, "documents").select("text")
    out = mr_run(
        docs, _tok_mapper(), _count_reducer(),
        partitioner=lambda key, n: F.lit(0), value_type="long",
    )
    pids = {r.pid for r in out.select("pid").distinct().collect()}
    assert pids == {0}


def test_sequential_sort_output_global_order(spark):
    docs = table(spark, SF_SMOKE, "documents").select("text")
    rows = mr_run(
        docs, _tok_mapper(), _count_reducer(), sort_output=True,
        value_type="long",
    ).collect()
    keys = [r.key for r in rows]
    assert keys == sorted(keys)


def test_reducer_sees_partition_id_and_multiset(spark):
    docs = table(spark, SF_SMOKE, "documents").select("text")

    def join_reducer(key: str, values, pid: int) -> str:
        # order-insensitive fold over the value multiset (SURVEY §1.3)
        vals = sorted(values)
        return f"{pid}:{len(vals)}:{vals[0]}"

    out = mr_run(docs, _tok_mapper(), join_reducer).collect()
    for r in out:
        pid, n, v0 = r.value.split(":")
        assert int(pid) == r.pid
        assert int(n) >= 1
        assert v0 == "1"


def test_mr_run_rdd_bitexact_placement_and_order(spark):
    from cs537_spring2021_p3a_mapreduce_spark.mr import mr_run_rdd

    docs = table(spark, SF_SMOKE, "documents").select("text")

    def mapper(line):
        return ((tok, "1") for tok in line.split())

    def reducer(key, values, pid):
        return sum(1 for _ in values)

    out = mr_run_rdd(docs, mapper, reducer, num_reducers=10)
    rows = out.collect()

    def djb2(key, n=10):
        h = 5381
        for ch in key:
            h = (h * 33 + ord(ch)) % (1 << 64)
        return h % n

    # bit-exact physical placement: the partition that processed the
    # key (pid reported by the reduce task) IS djb2(key) % 10
    assert all(r.pid == djb2(r.key) for r in rows)
    # counts agree with the DataFrame-native wordcount
    want = {(r.token, r.cnt) for r in wordcount(spark, SF_SMOKE).collect()}
    assert {(r.key, int(r.value)) for r in rows} == want
    # within each partition, reducer visit order was ascending-bytewise
    per_pid = out.rdd.map(lambda r: (r.pid, r.key)).groupByKey().collect()
    for _, keys in per_pid:
        ks = list(keys)
        assert ks == sorted(ks)


def test_reduce_runs_straddling_arrow_batches(spark):
    """The streaming grouped scan must call the reducer exactly once
    per key even when a key's run spans multiple Arrow batches: force
    tiny batches so every multi-occurrence key straddles."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        # 4 keys x 25 copies each, single partition -> runs of 25 rows
        # sliced into batches of 3
        df = spark.createDataFrame(
            [(f"k{i % 4}",) for i in range(100)], "rec string"
        ).coalesce(1)
        out = mr_run(
            df,
            lambda rec: [(rec, "1")],
            lambda key, values, pid: sum(1 for _ in values),
            num_reducers=2,
            value_type="long",
            num_mappers=1,
        ).collect()
        assert sorted((r.key, r.value) for r in out) == [
            (f"k{i}", 25) for i in range(4)
        ]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
