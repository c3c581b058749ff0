"""Tier-1 unit tests, including the basic.txt-equivalent inline
fixture (FIXTURES.md: token n appears n times) and a pure-Python
cross-check of the bit-exact djb2 expression."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.functions.text import djb2_partition, tokens
from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core as mc

SF_SMOKE = "/root/testdata/sf0.001"

BASIC_ROWS = [("one",), ("two two",), ("three three three",), ("four four four four",)]


def basic_df(spark):
    return spark.createDataFrame(BASIC_ROWS, ["text"])


def test_wordcount_basic_fixture(spark):
    """Reference golden fixture semantics: basic.txt → {one:1, two:2,
    three:3, four:4} (basic.txt:1-4, main.c:68)."""
    out = (
        basic_df(spark)
        .select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    assert {r.token: r.cnt for r in out} == {"one": 1, "two": 2, "three": 3, "four": 4}


def test_tokens_whitespace_and_empties(spark):
    df = spark.createDataFrame([("  a\t b\n\nc  ",), ("",), ("   ",)], ["text"])
    rows = df.select(tokens("text").alias("t")).collect()
    assert rows[0].t == ["a", "b", "c"]
    assert rows[1].t == []
    assert rows[2].t == []


def _djb2_c(key: str, n: int) -> int:
    """Literal transcription of MR_DefaultHashPartition
    (mapreduce.c:88-94) for cross-checking only."""
    h = 5381
    for ch in key.encode():
        h = (h * 33 + ch) % (1 << 64)
    return h % n


def test_djb2_bit_exact(spark):
    words = ["", "a", "hello", "Quality", "the-quick-brown-fox", "zzzzzzzzzzzzzzzz"]
    for n in (1, 7, 10, 32):
        df = spark.createDataFrame([(w,) for w in words], ["k"])
        got = {r.k: r.pid for r in df.select("k", djb2_partition("k", n).alias("pid")).collect()}
        for w in words:
            assert got[w] == _djb2_c(w, n), (w, n)


def test_wordcount_sf_smoke(spark):
    df = mc.wordcount(spark, SF_SMOKE)
    assert df.columns == ["token", "cnt"]
    total = df.agg(F.sum("cnt")).first()[0]
    assert total > 0
    assert df.count() > 0


def test_partitioned_sort_is_sorted(spark):
    toks = [r.token for r in mc.partitioned_sort(spark, SF_SMOKE).collect()]
    assert toks == sorted(toks)


def test_partition_hist_covers_all_rows(spark):
    hist = mc.custom_partition_hist(spark, SF_SMOKE).collect()
    assert {r.pid for r in hist} <= set(range(10))
    n_tokens = mc.wordcount(spark, SF_SMOKE).agg(F.sum("cnt")).first()[0]
    assert sum(r.cnt for r in hist) == n_tokens


def test_inverted_index_sorted_doc_ids(spark):
    row = mc.inverted_index(spark, SF_SMOKE).first()
    ids = [int(x) for x in row.doc_ids.split(",")]
    assert ids == sorted(ids)
    assert row.n_docs == len(ids)


def test_inverted_index_doc_id_on_two_rows_listed_once(spark, tmp_path):
    d = str(tmp_path / "dup_doc_id")
    spark.createDataFrame(
        [(1, "a b a"), (1, "a c"), (2, "b")], "doc_id long, text string"
    ).write.parquet(f"{d}/documents.parquet")
    got = {(r.token, r.doc_ids, r.n_docs) for r in mc.inverted_index(spark, d).collect()}
    assert got == {("a", "1", 1), ("b", "1,2", 2), ("c", "1", 1)}


def test_heavy_hitters_exact_and_bounded(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        HH_K,
        heavy_hitters,
        _token_df,
    )

    got = {(r.token, r.cnt) for r in heavy_hitters(spark, SF_SMOKE).collect()}
    toks = _token_df(spark, SF_SMOKE)
    n = toks.count()
    want = {
        (r.token, r.cnt)
        for r in toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") * HH_K > F.lit(n))
        .collect()
    }
    # exact despite the sketch pass: candidates are a provable superset
    assert got == want and len(got) > 0


def test_heavy_hitters_partitioning_invariant(spark):
    """MG candidates depend on partitioning; the final answer must not."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core as mc

    base = {(r.token, r.cnt) for r in mc.heavy_hitters(spark, SF_SMOKE).collect()}
    # re-run the public operator after forcing a different source
    # partitioning via a session-conf change to file split size
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        again = {(r.token, r.cnt) for r in mc.heavy_hitters(spark, SF_SMOKE).collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert again == base


def test_manifest_cdc_reconstructs_changes(spark):
    """The snapshot-diff change feed must agree with the change rules
    that produced generation 2 — counted directly from the input."""
    rows = {r.change_type: r for r in mc.manifest_changes_cdc(spark, SF_SMOKE).collect()}
    assert set(rows) == {"insert", "delete", "update_preimage", "update_postimage"}
    od = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    n_odd = od.where(F.col("k") % 2 == 1).count()
    n_upd = od.where((F.col("k") % 2 == 0) & (F.col("k") % 10 == 0)).count()
    n_del = od.where(
        (F.col("k") % 2 == 0) & (F.col("k") % 10 != 0) & (F.col("k") % 14 == 0)
    ).count()
    assert rows["insert"].n_rows == n_odd
    assert rows["delete"].n_rows == n_del
    assert rows["update_preimage"].n_rows == n_upd
    assert rows["update_postimage"].n_rows == n_upd
    # post-image sum is pre-image sum shifted by exactly +111 per row
    assert (
        rows["update_postimage"].sum_cents - rows["update_preimage"].sum_cents
        == 111 * n_upd
    )


def test_l_diversity_flags_homogeneous_groups(spark):
    """Planted customers: a (nation, segment) group whose members all
    share ONE balance band must be flagged with top_share_micro =
    1_000_000; a group spanning L_DIV+ bands must not appear."""
    import os
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        L_DIV,
        l_diversity_audit,
    )

    rows = []
    # homogeneous group: nation 1 / AUTO, 8 members, all ~$500
    rows += [(i, f"c{i}", 1, 500.0 + i * 0.01, "AUTO") for i in range(8)]
    # diverse group: nation 2 / RAIL, one member per $1000 band
    rows += [
        (100 + b, f"d{b}", 2, b * 1000.0 + 10.0, "RAIL") for b in range(L_DIV + 2)
    ]
    d = tempfile.mkdtemp(prefix="ldiv_t_")
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(os.path.join(d, "customer.parquet"))
    got = {(r.c_nationkey, r.c_mktsegment): r for r in l_diversity_audit(spark, d).collect()}
    flagged = got[(1, "AUTO")]
    assert flagged.group_n == 8 and flagged.n_sensitive == 1
    assert flagged.top_share_micro == 1_000_000
    assert (2, "RAIL") not in got


def test_t_closeness_flags_skewed_groups(spark):
    """Planted customers: a group whose band distribution MIRRORS the
    global one has t = 0 (never flagged) even though it is perfectly
    l-diverse, while a group concentrated on one globally-rare band
    is flagged with the hand-computed total-variation distance —
    exactly the skewness attack t-closeness exists to catch."""
    import os
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        t_closeness_audit,
    )

    rows = []
    # nation 1 / AUTO: 6 members, bands 0..5 one each
    rows += [(i, f"a{i}", 1, b * 1000.0 + 10.0, "AUTO") for i, b in enumerate(range(6))]
    # nation 2 / RAIL: 6 members, same band profile -> mirrors global
    # band shape of the AUTO group; combined global is uniform-ish
    rows += [
        (100 + i, f"r{i}", 2, b * 1000.0 + 20.0, "RAIL")
        for i, b in enumerate(range(6))
    ]
    # nation 3 / MACH: 6 members ALL in band 9 (globally rare)
    rows += [(200 + i, f"m{i}", 3, 9010.0 + i, "MACHINERY") for i in range(6)]
    d = tempfile.mkdtemp(prefix="tclose_t_")
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(os.path.join(d, "customer.parquet"))
    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in t_closeness_audit(spark, d).collect()
    }
    # global: bands 0..5 have 2/18 each, band 9 has 6/18.
    # MACH group: p_g(9)=1 vs 6/18 -> gap 12/18; six bands 0..5
    # contribute 2/18 each -> total 24/18; t = 12/18 = 2/3.
    flagged = got[(3, "MACHINERY")]
    assert flagged.group_n == 6
    assert flagged.t_micro == (24 * 500_000 * 6 * 18) // (18 * 6 * 18) // 1
    assert flagged.t_micro == 666_666
    # AUTO/RAIL: p_g(b)=1/6 vs 2/18=1/9 for b in 0..5 (gap 1/18 each)
    # and 0 vs 6/18 for band 9 -> sum = 6/18 + 6/18 = 12/18, t = 1/3
    # -> under the 0.5 threshold, not flagged.
    assert (1, "AUTO") not in got and (2, "RAIL") not in got


def test_safe_release_partitions_suppressions(spark):
    """The release manifest's invariants at sf0.01: released +
    suppressed-by-k + suppressed-by-l = total per segment (the
    reasons PARTITION the suppressed set), some rows actually
    release, and some are suppressed (both rules bind on this
    fixture — l-diversity violations exist at sf0.01)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        safe_release_view,
    )

    out = safe_release_view(spark, "/root/testdata/sf0.01").collect()
    assert len(out) == 5  # the five market segments
    for r in out:
        assert r.n_released + r.n_supp_k + r.n_supp_l == r.n_total
    assert sum(r.n_released for r in out) > 0
    assert sum(r.n_supp_k + r.n_supp_l for r in out) > 0
