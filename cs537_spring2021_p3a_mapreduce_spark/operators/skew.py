"""Skew mitigation: explicit key salting for pathological join keys.

AQE's skew-join splitting (on by default, session.py) handles most
skew by subdividing oversized shuffle partitions at runtime. Salting
is the manual fallback SCALE.md documents for the case AQE can't
fix: ONE join key so hot that even a split partition is a straggler
(think a null-ish default id owning 10% of 100 TB).

Mechanics: the big side appends a salt in [0, n_salts) to its key;
the small side replicates every row once per salt value; the join
runs on (key, salt), sharding the hot key's rows across n_salts
tasks. Replication multiplies the small side ×n_salts — use only
when small ≪ big / n_salts, which is exactly the skewed-join
regime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"

# auto-derivation bounds: ≥2 (a derived 1 means "not hot — don't
# salt"), ≤64 (small-side replication cost ceiling)
MAX_SALTS = 64
_MG_COUNTERS = 64


def derive_n_salts(big: DataFrame, key: str | Column) -> int:
    """Size the salt count FROM THE DATA (r2 VERDICT #8): a
    zero-shuffle Misra-Gries pass over the join key estimates the
    hottest key's count m (the MG residual is a lower bound — a key
    below ~n/65 of the stream never surfaces, and such a key needs no
    salting); with P shuffle partitions and n rows, the hot key's
    rows need ceil(m·P/n) shards for its biggest task to match an
    average task, clamped to [1, MAX_SALTS]. Cost: one narrow scan
    of the big side's key column (bounded state, KBs of output), one
    scalar collect.

    Returns 1 when no key is hot enough to matter — callers treat
    that as "skip salting" (salted_join does so automatically)."""
    import math

    spark = big.sparkSession
    # the width batch joins are planned with: AQE's initial partition
    # number under get_spark, the raw shuffle.partitions otherwise
    n_part = spark._jsparkSession.sessionState().conf().numShufflePartitions()
    keyed = big.select(F.col(key).cast("string").alias("k") if isinstance(key, str) else key.cast("string").alias("k"))

    def sketch(batches):
        import pandas as pd

        chunk = 4096
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            col = pdf["k"]
            total += len(col)
            for lo in range(0, len(col), chunk):
                for tok, c in col.iloc[lo : lo + chunk].value_counts().items():
                    counters[tok] = counters.get(tok, 0) + int(c)
                if len(counters) > _MG_COUNTERS:
                    vals = sorted(counters.values(), reverse=True)
                    m = vals[_MG_COUNTERS]
                    counters = {t: c - m for t, c in counters.items() if c > m}
        # candidate rows + one null-keyed row carrying the row count
        yield pd.DataFrame(
            {
                "k": list(counters.keys()) + [None],
                "cnt": list(counters.values()) + [total],
            }
        )

    sk = keyed.mapInPandas(sketch, "k string, cnt long")
    per_key = sk.groupBy("k").agg(F.sum("cnt").alias("c"))
    row = per_key.agg(
        F.max(F.when(F.col("k").isNotNull(), F.col("c"))).alias("hot"),
        F.sum(F.when(F.col("k").isNull(), F.col("c"))).alias("n"),
    ).collect()[0]
    hot, n = row["hot"] or 0, row["n"] or 0
    if n == 0 or hot == 0:
        return 1
    return max(1, min(MAX_SALTS, math.ceil(hot * n_part / n)))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str | Column,
    small_key: str | Column,
    n_salts: int | str = "auto",
) -> DataFrame:
    """Inner equi-join with the big side's rows sharded across
    ``n_salts`` salt buckets (outer joins would need null-extension
    bookkeeping per salt shard; keep those on AQE). The salt is a
    hash of the whole big-side row id stream — any assignment is
    correct, the only goal is spreading one key's rows.

    ``n_salts="auto"`` (default) derives the count from measured key
    frequencies (``derive_n_salts``); a derivation of 1 means no key
    is hot and the join runs UNSALTED (no pointless small-side
    replication at uniform keys)."""
    if n_salts == "auto":
        n_salts = derive_n_salts(big, big_key)
    if n_salts <= 1:
        bk0 = big[big_key] if isinstance(big_key, str) else big_key
        sk0 = small[small_key] if isinstance(small_key, str) else small_key
        return big.join(small, bk0 == sk0, "inner")
    # salt must be DETERMINISTIC per row content: a salt derived from
    # monotonically_increasing_id / rand changes on partial stage
    # retry, so recomputed map outputs land in different (key, salt)
    # reduce partitions than already-fetched ones — rows join twice
    # or never (the SPARK-23207 bug class). Hashing the full row is
    # stable under recomputation; identical rows co-locating is fine.
    salted_big = big.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)).cast(
            "int"
        ),
    )
    replicated_small = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    # resolve string keys against their own side so same-named join
    # columns (k == k) stay unambiguous
    bk = salted_big[big_key] if isinstance(big_key, str) else big_key
    sk = replicated_small[small_key] if isinstance(small_key, str) else small_key
    joined = salted_big.join(
        replicated_small,
        (bk == sk) & (salted_big[SALT_COL] == replicated_small[SALT_COL]),
        "inner",
    )
    return joined.drop(SALT_COL)
