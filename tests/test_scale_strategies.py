"""Scale-strategy proofs: the SCALE.md claims that need a witness —
bucketed co-located joins plan with zero shuffle, and salted joins
produce identical results while sharding hot keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark import plans as P, sources as src
from cs537_spring2021_p3a_mapreduce_spark.operators.skew import salted_join

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-join planning so the bucketing effect is
    observable (broadcast would hide it at smoke scale)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_plans_zero_shuffle(spark, no_broadcast):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    src.write_bucketed_table(
        orders, "t_bucket_orders", ["o_custkey"], 8, sort_cols=["o_custkey"]
    )
    src.write_bucketed_table(
        cust, "t_bucket_cust", ["c_custkey"], 8, sort_cols=["c_custkey"]
    )
    try:
        bo, bc = spark.table("t_bucket_orders"), spark.table("t_bucket_cust")
        j = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy("c_custkey").agg(
            F.count(F.lit(1)).alias("n")
        )
        # co-bucketed on the join key: sort-merge join with NO
        # exchange on either side, and the aggregate reuses the
        # bucket distribution — zero shuffles in the whole plan
        assert P.uses_sort_merge_join(j)
        assert P.shuffle_count(j) == 0
        # same result as the plain parquet join
        plain = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert {(r.c_custkey, r.n) for r in j.collect()} == {
            (r.c_custkey, r.n) for r in plain.collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_orders")
        spark.sql("DROP TABLE IF EXISTS t_bucket_cust")


def test_salted_join_matches_plain_join(spark, no_broadcast):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    salted = salted_join(orders, cust, "o_custkey", "c_custkey", n_salts=5)
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
    assert {(r.o_orderkey, r.c_custkey) for r in salted.collect()} == {
        (r.o_orderkey, r.c_custkey) for r in plain.collect()
    }


def test_salted_join_shards_hot_key(spark):
    # a pathological 90%-one-key distribution: the salt must spread
    # the hot key's rows across multiple salt buckets pre-join
    hot = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.createDataFrame([(7, "hot"), (5, "cold")], "k bigint, v string")
    out = salted_join(hot, dim, "k", "k", n_salts=8)
    assert out.count() == 900  # 900 hot matches, id 5 absent from hot side
    from cs537_spring2021_p3a_mapreduce_spark.operators.skew import SALT_COL

    salts = (
        hot.withColumn(
            SALT_COL,
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)).cast(
                "int"
            ),
        )
        .filter(F.col("k") == 7)
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert salts >= 4  # hot key really does shard across buckets


def test_derive_n_salts_sizes_to_hot_share(spark):
    """Adaptive salting (r2 VERDICT #8): the derived count tracks the
    measured hot-key share (ceil(hot*P/n), P = shuffle partitions),
    and uniform keys derive 1 — meaning salted_join runs UNSALTED
    with zero small-side replication."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.skew import (
        derive_n_salts,
        salted_join,
    )

    P = spark._jsparkSession.sessionState().conf().numShufflePartitions()

    # ~50% of rows on key 0 → expect about P/2 salts (MG residual is a
    # lower bound, so allow a tolerant band below the ideal)
    hot = spark.range(40_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.col("id").alias("v"),
    )
    s_hot = derive_n_salts(hot, "k")
    assert P // 4 <= s_hot <= P

    uniform = spark.range(40_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    assert derive_n_salts(uniform, "k") == 1

    # auto mode: result-invisible on both shapes
    dim = spark.range(1000).select(F.col("id").alias("k2"), (F.col("id") % 7).alias("w"))
    for big in (hot, uniform):
        auto = salted_join(big, dim, "k", "k2")
        plain = big.join(dim, F.col("k") == F.col("k2"))
        assert auto.count() == plain.count()
        a = auto.agg(F.sum(F.col("v") * F.col("w"))).collect()[0][0]
        p = plain.agg(F.sum(F.col("v") * F.col("w"))).collect()[0][0]
        assert a == p
