"""Tier-1 queries: the reference's own observable surface (SURVEY
§2.A → §2.C tier 1) re-expressed as DataFrame plans over
``documents.text`` (the corpus role of basic.txt).

Reference traces per query are in each docstring. Scale notes:
every query here is a single scan → (optional narrow ops) → one
shuffle; no collect(), no driver loops, and the scan only reads the
columns each plan needs (column pruning reaches the parquet footer).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..scratch import scratch_dir

from ..catalog import table
from ..functions.text import djb2_partition, tokens
from .relational import _dsum

# How many partitions the reference's main client uses for the djb2
# histogram query (10 reducers → n_partitions=10, main.c:64,
# mapreduce.c:144).
N_PARTITIONS = 10

# The point-lookup term for wordcount_lookup (main.c:59,67). Chosen
# from the fixture vocabulary so the lookup is non-empty.
LOOKUP_TERM = "scan"
GREP_PATTERN = "ord"  # substring match, lands on 'order'/'word'-ish tokens


def _token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → one row per (doc_id, token).

    Reference A2+A3: line-scan source + whitespace flatMap
    (main.c:11-31). `explode` keeps this a narrow op — tokenizing
    100 TB of text is embarrassingly parallel, no shuffle until an
    aggregation asks for one.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token → count. The reference flagship (A2+A3+A8+A9,
    main.c:11-43): Map emits (token, "1"), Reduce counts the
    iterator. Here: one scan, one hash-aggregate with map-side
    partial aggregation (Catalyst's HashAggregate pair replaces the
    emit→shuffle→sort→count pipeline wholesale)."""
    return (
        _token_df(spark, sf_dir)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def wordcount_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive wordcount via COLLATION (Spark 4): the
    grouping key is ``collate(token, 'UTF8_LCASE')``, so equality,
    hashing, and the shuffle all use collation-aware semantics — no
    lower() rewrite of the data, which is the point: collation
    pushes the comparison rule into the TYPE, so every downstream
    operator (joins, sorts, distinct) inherits it without per-call
    normalization. Case variety is synthesized deterministically
    (even doc_ids upper-case their tokens) since the fixture corpus
    is lower-case. The group representative under a collation is
    engine-chosen, so the output carries min(token) — deterministic
    in both engines — never the collated key itself.

    Honest cost note (measured): grouping on a collated key plans as
    SortAggregate, not HashAggregate — non-binary collations aren't
    hash-aggregable in Spark 4.1 — still one shuffle, but the 100 TB
    call is collation-in-the-type (rule enforced everywhere,
    sort-agg cost) vs lower()-normalizing hot aggregation paths
    (hash-agg, rule re-stated per call). This entry is the former.

    Output: repr_token, cnt.
    """
    toks = _token_df(spark, sf_dir).select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("token"))
        .otherwise(F.col("token"))
        .alias("w")
    )
    return (
        toks.groupBy(F.collate("w", "UTF8_LCASE").alias("k"))
        .agg(F.min("w").alias("repr_token"), F.count(F.lit(1)).alias("cnt"))
        .select("repr_token", "cnt")
    )


def wordcount_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount then point-lookup one term (A11: MapGet after
    MR_Run, main.c:66-71). The filter sits below the aggregate after
    Catalyst pushes it, so the plan scans, filters to one token, and
    counts — a 100 TB run never materializes the full histogram."""
    return wordcount(spark, sf_dir).filter(F.col("token") == LOOKUP_TERM)


def grep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens matching a literal substring, with counts (the client
    predicate shape of hashmap_test.c:35-37). Predicate is sargable;
    at scale this is scan+filter+agg, no full-vocabulary state."""
    return (
        _token_df(spark, sf_dir)
        .filter(F.col("token").contains(GREP_PATTERN))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct tokens — the key set a reducer iterates (A8 key
    loop, mapreduce.c:127-138). Hash-distinct with partial
    de-duplication map-side."""
    return _token_df(spark, sf_dir).select("token").distinct()


def partitioned_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (token, cnt) ordered by token — the sequential
    engine's observable output order (A14, sequential_mapreduce.c:81
    sorts one global list; A7 is the per-partition form). Spark's
    orderBy is a range-partitioned sort: sampled split points keep
    it parallel at any scale, unlike the reference's single qsort."""
    return wordcount(spark, sf_dir).orderBy("token")


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token → sorted distinct doc_id list (classic MR inverted
    index; A8 with a list-building reduce). Emitted as a joined
    string so the oracle comparison is type-stable.

    One shuffle: postings are made unique per document row first
    (``explode(array_distinct(tokens))``), so the aggregate receives
    one row per (document, token), not one per occurrence, and
    ``collect_list`` pre-reduces map-side. The outer
    ``array_distinct`` keeps a doc_id that appears on two document
    rows once, as the oracle's ``list(DISTINCT doc_id)`` does.

    Per-key state: the final row carries a token's full posting list,
    because the output contract demands it, so one aggregation buffer
    holds that list for the hottest token whatever the plan. A
    sharded two-stage form (per-(token, doc_id % k) sets, then a
    merge) bounds only the first stage; its merge held the same full
    list in one buffer, for a second exchange. A production index
    would write postings (token, doc_id)-bucketed and never
    materialize the concatenation."""
    docs = table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    return (
        postings.groupBy("token")
        .agg(F.sort_array(F.array_distinct(F.collect_list("doc_id"))).alias("ids"))
        .select(
            "token",
            F.array_join("ids", ",").alias("doc_ids"),
            F.size("ids").cast("long").alias("n_docs"),
        )
    )


def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount driven through the ``mr`` compatibility layer — the
    full reference API shape (MR_Run + Map emitting (token,"1") +
    counting Reduce, main.c:11-43,64) executed as mapInPandas with a
    summing combiner → djb2 partition → shuffle → sorted streaming
    reduce in mapInPandas. Exists to prove the compat layer's
    contract against the same oracle as ``wordcount``; the
    DataFrame-native ``wordcount`` is the production path (pure
    Catalyst, no Python)."""
    from ..mr import mr_run

    docs = table(spark, sf_dir, "documents").select("text")

    def mapper(line: str):
        # str.split() == split on runs of whitespace, empties dropped
        # — same clean semantics as functions.text.tokens.
        return ((tok, "1") for tok in line.split())

    def combiner(key: str, values) -> str:
        return str(sum(int(v) for v in values))

    def reducer(key: str, values, pid: int) -> int:
        # The reference Reduce counts get_next yields (main.c:39-40);
        # summing the partial counts is that count whether or not the
        # combiner ran.
        return sum(int(v) for v in values)

    return mr_run(docs, mapper, reducer, value_type="long", combiner=combiner).select(
        F.col("key").alias("token"), F.col("value").alias("cnt")
    )


def linescan_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount through the CUSTOM PYTHON DATA SOURCE
    (``sources/linescan.py``) — the reference's A1 file-list deal +
    A2 line scan as a pluggable ``format("mr_linescan")``: the corpus
    is exported to text shards, each shard becomes one source
    partition (the engine's scheduler plays the reference's thread
    pool), and the same hash-aggregate wordcount runs on top. Same
    oracle as ``wordcount`` — the source swap must be semantically
    invisible.

    Scale note: the Python source pays one Python process hop per
    partition batch; ``spark.read.text`` is the production path.
    This entry exists to prove the extensibility seam (a bespoke
    format plugs in with partition planning + scan logic in plain
    Python), not to replace the built-in."""

    from ..sources.linescan import LineScanDataSource

    # idempotent per-session registration
    try:
        spark.dataSource.register(LineScanDataSource)
    except Exception:
        pass
    # the reader implements pushFilters(); Spark refuses to plan it
    # unless the python filter-pushdown capability is on (set at
    # runtime so driver-owned vanilla sessions work too)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    work = scratch_dir("linescan_")
    shards = os.path.join(work, "shards")
    (
        table(spark, sf_dir, "documents")
        .select("text")
        .repartition(8)
        .write.text(shards)
    )
    lines = (
        spark.read.format("mr_linescan").option("path", shards).load()
    )
    return (
        lines.select(F.explode(tokens("line")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution at the source: two parquet batches
    of the same logical table where the second batch carries a NEW
    column (``o_orderpriority``), read back as ONE relation with
    ``mergeSchema`` — rows from the old batch surface NULL for the
    new column, exactly the union-by-name semantics a long-lived
    100 TB table accretes (columns are added; history isn't
    rewritten). The aggregate proves both the merge (counts split by
    the evolved column's presence) and value integrity (exact-cents
    sums per group).

    Scale note: ``mergeSchema`` reconciles footers at planning time
    — per-file schemas, no data rewrite; the scan stays one pass and
    column pruning still reaches each footer.

    Output: priority (NULL→'<absent>'), n_orders, sum_cents."""

    orders = table(spark, sf_dir, "orders")
    path = scratch_dir("schema_evo_")
    old = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("append").parquet(path)
    new.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("<absent>")).alias("priority")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_SCHEMA_EVO = """
SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                '<absent>') AS priority,
       count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders GROUP BY 1
"""


def custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the CUSTOM COMMIT-PROTOCOL SINK
    (``sources/manifest_sink.py``): orders written via
    ``format("mr_manifest")`` — executor part files + driver-side
    atomic manifest commit — then read back trusting ONLY the
    manifest, with a planted stray file (a simulated failed task
    attempt) in the directory that must stay invisible. The
    aggregate value-checks the whole protocol: any duplicate,
    dropped, or stray row shifts the exact-cents sums.

    Output: o_orderstatus, n_orders, sum_cents."""

    from ..sources.manifest_sink import ManifestParquetSink, read_manifest_table

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_rt_"), "t")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    # stray uncommitted part file — a failed attempt's leftover; the
    # manifest-trusting reader must not see these 3 rows
    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [-1, -2, -3], "o_orderstatus": ["X"] * 3,
         "o_totalprice": [1.0, 2.0, 3.0]}
    ).to_parquet(os.path.join(path, "part-stray-attempt.parquet"), index=False)
    back = read_manifest_table(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_SINK_RT = """
SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders GROUP BY 1
"""


IDX_LOOKUP_SHARDS = 16


def _py_djb2_mod(key: str, n: int) -> int:
    """Driver-side twin of ``djb2_partition`` (bit-exact for the
    same signed-char byte semantics) — computes which index shard a
    literal lookup key lives in without touching data."""
    h = 5381
    for b in key.encode("utf-8"):
        c = b - 256 if b >= 128 else b
        h = (h * 33 + c) % (1 << 64)
    return h % n


def indexed_token_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECONDARY-INDEX point lookup — A11 (MapGet) rebuilt as a lake
    access path: a postings index (token, doc_id, n_occ) is written
    partitioned by djb2(token) shard, and a lookup computes the
    literal's shard DRIVER-SIDE (``_py_djb2_mod``, no data touched)
    so the scan opens exactly ONE partition directory of the index —
    at 100 TB that is the difference between a point lookup and a
    full-index scan. Matching doc ids then join back to ``documents``
    for attributes. The full-scan twin is ``wordcount_lookup`` (same
    answer via the aggregate); the oracle recomputes from raw text.

    Output: doc_id, lang, n_occ (docs containing LOOKUP_TERM).
    """
    idx_path = os.path.join(scratch_dir("tokidx_"), "postings")
    postings = (
        _token_df(spark, sf_dir)
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("shard", djb2_partition("token", IDX_LOOKUP_SHARDS))
    )
    # co-locate each shard before the partitioned write: without the
    # repartition every one of the N upstream tasks opens a writer in
    # every shard directory (N×SHARDS small files; measured 41 s at
    # ×100) — with it each task owns whole shards (SHARDS files)
    postings.repartition(IDX_LOOKUP_SHARDS, "shard").write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(idx_path)

    shard = _py_djb2_mod(LOOKUP_TERM, IDX_LOOKUP_SHARDS)
    hits = (
        spark.read.parquet(idx_path)
        .where((F.col("shard") == shard) & (F.col("token") == LOOKUP_TERM))
        .select("doc_id", "n_occ")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hits.join(docs, "doc_id").select("doc_id", "lang", "n_occ")


_IDX_LOOKUP = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
)
SELECT t.doc_id, d.lang, count(*)::BIGINT AS n_occ
FROM toks t JOIN documents d ON t.doc_id = d.doc_id
WHERE token = '{LOOKUP_TERM}'
GROUP BY 1, 2
"""


def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the commit-protocol sink: two committed
    generations (even orders, then append odd orders), read back
    AS OF each generation via its manifest snapshot — generation 1
    must show only the first batch even though the directory now
    holds both batches' part files. This is the version-travel
    contract every table format (Delta AS OF, Iceberg snapshots)
    builds on the same never-delete-on-commit property the sink
    already had; the snapshot manifests just make old views
    addressable.

    Output: gen, n_orders, sum_cents."""

    from ..sources.manifest_sink import ManifestParquetSink, read_manifest_table

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_tt_"), "t")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.where(F.col("o_orderkey") % 2 == 0).write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    orders.where(F.col("o_orderkey") % 2 == 1).write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()

    def view(gen: int) -> DataFrame:
        return read_manifest_table(spark, path, as_of=gen).agg(
            F.lit(gen).cast("long").alias("gen"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "sum_cents"
            ),
        )

    return view(1).unionByName(view(2))


_MANIFEST_TT = """
SELECT 1::BIGINT AS gen, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 2::BIGINT AS gen, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders
"""


def manifest_vacuum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the commit-protocol sink — the disk-reclaim
    lifecycle op every table format separates from commit (Delta
    VACUUM / Iceberg expire_snapshots): overwrite-style churn leaves
    part files only old generations reference; vacuum with
    keep_generations=1 must physically delete exactly those while
    the LIVE table reads back bit-identical. The query value-checks
    the read-back (the oracle is the expected live content) and
    emits the audit counters a retention job reports; the orphan
    arithmetic (files_before − deleted == files_after, deleted > 0,
    time travel now bounded) is pinned in tests/test_sources.py.

    Runs under the commit lock (a racing commit can't publish a file
    mid-delete) — the crash/race suite covers the protocol.

    Output: n_orders, sum_cents, deleted_gt_zero, live_files_match.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_vac_"), "t")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # gen 1: odd orders (will become orphaned history) — gen 2: the
    # DELETE rewrite drops them, leaving gen-1 part files unreferenced
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    from ..sources.manifest_sink import delete_where

    delete_where(spark, path, "o_orderkey % 2 = 1")
    before = {f for f in os.listdir(path) if f.endswith(".parquet")}
    deleted = vacuum_manifest_table(path, keep_generations=1)
    after = {f for f in os.listdir(path) if f.endswith(".parquet")}
    live = read_manifest_table(spark, path)
    return live.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.lit(len(deleted) > 0).cast("int").alias("deleted_gt_zero"),
        F.lit(before - set(deleted) == after).cast("int").alias(
            "live_files_match"
        ),
    )


_MANIFEST_VACUUM = """
SELECT count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
       1 AS deleted_gt_zero, 1 AS live_files_match
FROM orders WHERE o_orderkey % 2 = 0
"""


def partition_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION (the Iceberg capability Hive tables lack):
    history written under layout v1 (partitioned by event_type)
    stays as-is while new data lands under layout v2 (event_type ×
    hour) — evolving the spec NEVER rewrites old files; a reader
    unions both layouts and aggregates across them seamlessly. The
    v2 scan still prunes on the finer key (plan-checked in tests):
    old data answers with v1 pruning, new data with v2's.

    Here: events with even ids are "history" (v1), odd ids are
    "post-evolution" (v2); the query aggregates per event_type
    across both — the oracle is the plain aggregate over everything,
    so a dropped or double-read layout hash-mismatches.

    Output: event_type, n_events, sum_cents.
    """
    base = scratch_dir("part_evo_")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").alias("hr"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    ev.where(F.col("event_id") % 2 == 0).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(v1)
    ev.where(F.col("event_id") % 2 == 1).write.mode("overwrite").partitionBy(
        "event_type", "hr"
    ).parquet(v2)
    old = spark.read.parquet(v1).select("event_type", "cents")
    new = spark.read.parquet(v2).select("event_type", "cents")
    return (
        old.unionByName(new)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


_PART_EVO_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
FROM events GROUP BY 1 ORDER BY 1
"""


def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-GOVERNANCE masking view — the column-masking /
    row-filter pattern every warehouse applies before analysts see
    PII: names reduce to a deterministic md5 surrogate (joinable
    across tables, irreversible) plus a partial-reveal mask
    (prefix + last 2 chars), account balances round to whole
    currency units (k-anonymity-style coarsening), and a ROW filter
    hides a restricted segment entirely. All masking is pure
    expressions — the governed view costs nothing at any scale and
    predicate pushdown still reaches the scan through it.

    Output: c_custkey, name_surrogate, name_masked,
    balance_dollars, c_mktsegment.
    """
    cust = table(spark, sf_dir, "customer")
    return (
        cust.where(F.col("c_mktsegment") != "AUTOMOBILE")  # row policy
        .select(
            "c_custkey",
            F.md5(F.concat(F.lit("mask:"), F.col("c_name"))).alias(
                "name_surrogate"
            ),
            F.concat(
                F.substring("c_name", 1, 9),
                F.lit("****"),
                F.substring(F.col("c_name"), -2, 2),
            ).alias("name_masked"),
            F.expr(
                "CAST(round(c_acctbal * 100) AS BIGINT) DIV 100"
            ).alias("balance_dollars"),
            "c_mktsegment",
        )
        .orderBy("c_custkey")
    )


_MASKED_VIEW_SQL = """
SELECT c_custkey,
       md5('mask:' || c_name) AS name_surrogate,
       substr(c_name, 1, 9) || '****' || substr(c_name, -2, 2) AS name_masked,
       (round(c_acctbal * 100)::BIGINT // 100)::BIGINT AS balance_dollars,
       c_mktsegment
FROM customer
WHERE c_mktsegment <> 'AUTOMOBILE'
ORDER BY c_custkey
"""


def multi_table_commit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE ATOMIC COMMIT — the consistency level per-table
    formats lack (a Delta/Iceberg commit is atomic per TABLE; a
    pipeline publishing facts + summary together can be read torn
    between them): both tables stage through the ordinary manifest
    sink, then ONE lock-guarded atomic catalog rename flips their
    visible generations together (``sources/catalog_commit.py``).

    This query drives the torn-read impossibility end-to-end:
    publish a consistent pair (v1 = even orders in both tables),
    stage a SECOND generation into ONLY the facts table (a crashed
    publisher: data committed per-table, catalog never flipped),
    then read both tables THROUGH THE CATALOG — the reader must see
    the v1-consistent pair on both sides, with the straggler's rows
    invisible. The oracle is the consistent pair's SQL, so any
    torn-state leak hash-mismatches.

    Output: side, n_rows, sum_cents (one row per table).
    """
    from ..sources.catalog_commit import publish_tables, read_catalog_table
    from ..sources.manifest_sink import ManifestParquetSink

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    base = scratch_dir("catalog_tx_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    evens = orders.where(F.col("o_orderkey") % 2 == 0)
    evens.write.format("mr_manifest").option(
        "path", os.path.join(base, "facts")
    ).mode("append").save()
    evens.groupBy((F.col("o_orderkey") % 10).alias("bucket")).agg(
        F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n")
    ).write.format("mr_manifest").option(
        "path", os.path.join(base, "summary")
    ).mode("append").save()
    publish_tables(base, ["facts", "summary"])
    # crashed second publisher: facts staged gen 2, catalog untouched
    orders.where(F.col("o_orderkey") % 2 == 1).write.format(
        "mr_manifest"
    ).option("path", os.path.join(base, "facts")).mode("append").save()
    facts = read_catalog_table(spark, base, "facts")
    summary = read_catalog_table(spark, base, "summary")
    a = facts.agg(
        F.lit("facts").alias("side"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
    b = summary.agg(
        F.lit("summary").alias("side"),
        F.sum("n").alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
    return a.unionByName(b).orderBy("side")


_MULTI_TABLE_SQL = """
SELECT 'facts' AS side, count(*)::BIGINT AS n_rows,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'summary', count(*)::BIGINT,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT
FROM orders WHERE o_orderkey % 2 = 0
ORDER BY side
"""


K_ANON = 5  # minimum group size before a quasi-identifier combo leaks


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit — the release-gate check behind the masking
    view: does any QUASI-IDENTIFIER combination (nation × segment ×
    coarse balance band — attributes an adversary can link
    externally) isolate fewer than K individuals? Groups under K are
    re-identification risks the release must suppress or generalize
    further; the audit reports each violating combination with its
    size, plus summary shares.

    Scale: one hash aggregate on the quasi-identifier key + a
    heap-ranked violation list — the audit costs one aggregate at
    any corpus size. Coarsening (the balance band) is the knob: the
    test pins that WIDER bands strictly reduce violations.

    Output (violating combos, worst first): c_nationkey,
    c_mktsegment, balance_band, group_n, n_total.
    """
    cust = table(spark, sf_dir, "customer")
    band = F.expr(
        "CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000"
    )  # $1000 bands
    total = cust.agg(F.count(F.lit(1)).alias("n_total"))
    groups = (
        cust.select(
            "c_nationkey", "c_mktsegment", band.alias("balance_band")
        )
        .groupBy("c_nationkey", "c_mktsegment", "balance_band")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .where(F.col("group_n") < K_ANON)
    )
    return (
        groups.crossJoin(F.broadcast(total))
        .orderBy(
            "group_n", "c_nationkey", "c_mktsegment", "balance_band"
        )
    )


_K_ANON_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         round(c_acctbal * 100)::BIGINT // 100000 AS balance_band,
         count(*)::BIGINT AS group_n
  FROM customer GROUP BY 1, 2, 3
), t AS (SELECT count(*)::BIGINT AS n_total FROM customer)
SELECT c_nationkey, c_mktsegment, balance_band, group_n, n_total
FROM g CROSS JOIN t
WHERE group_n < {K_ANON}
ORDER BY group_n, c_nationkey, c_mktsegment, balance_band
"""


L_DIV = 6  # minimum distinct sensitive values per QI group


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit (Machanavajjhala et al. 2007, "l-Diversity:
    Privacy Beyond k-Anonymity") — the check k-anonymity misses: a
    group can be ≥ K members yet still leak if they all share the
    SAME sensitive value (the homogeneity attack). Here the
    quasi-identifier is (nation × segment) and the sensitive
    attribute is the $1000 balance band: any QI group with fewer
    than L_DIV distinct bands is flagged, together with the share of
    its most common band in exact integer micro-units (the
    skew signal behind recursive (c,l)-diversity — a group that is
    technically diverse but 99% one value still leaks
    probabilistically).

    Scale: two map-side-combinable hash aggregates — (QI, sensitive)
    counts, then a per-QI rollup — the audit costs a wordcount at
    any corpus size; no distinct-expansion, no window.

    Output (violating groups, least diverse first): c_nationkey,
    c_mktsegment, group_n, n_sensitive, top_share_micro.
    """
    cust = table(spark, sf_dir, "customer")
    band = F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000")
    per_value = (
        cust.select("c_nationkey", "c_mktsegment", band.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment", "sens")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_value.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("cnt").alias("group_n"),
            F.count(F.lit(1)).alias("n_sensitive"),
            F.max("cnt").alias("top_cnt"),
        )
        .where(F.col("n_sensitive") < L_DIV)
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_n",
            "n_sensitive",
            F.expr("(top_cnt * 1000000) DIV group_n").alias("top_share_micro"),
        )
        .orderBy("n_sensitive", "c_nationkey", "c_mktsegment")
    )


_L_DIV_SQL = f"""
WITH pv AS (
  SELECT c_nationkey, c_mktsegment,
         round(c_acctbal * 100)::BIGINT // 100000 AS sens,
         count(*)::BIGINT AS cnt
  FROM customer GROUP BY 1, 2, 3
), g AS (
  SELECT c_nationkey, c_mktsegment,
         sum(cnt)::BIGINT AS group_n,
         count(*)::BIGINT AS n_sensitive,
         max(cnt)::BIGINT AS top_cnt
  FROM pv GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, group_n, n_sensitive,
       (top_cnt * 1000000 // group_n)::BIGINT AS top_share_micro
FROM g WHERE n_sensitive < {L_DIV}
ORDER BY n_sensitive, c_nationkey, c_mktsegment
"""


def safe_release_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASE the two privacy audits gate: a customer row is
    publishable iff its quasi-identifier group passes BOTH
    k-anonymity (its (nation, segment, $1000-band) group has ≥
    K_ANON members — `k_anonymity_audit`'s rule) and l-diversity
    (its (nation, segment) group spans ≥ L_DIV distinct bands —
    `l_diversity_audit`'s rule); everything else is SUPPRESSED, the
    generalize-or-drop decision those audits exist to inform. The
    output is the release manifest a data-sharing pipeline logs:
    per segment, how many rows shipped vs were suppressed by each
    rule (a row failing both counts once, under the stricter k rule
    — suppression reasons must partition the suppressed set).

    Shape: two group-size relations (map-side-combinable aggregates,
    both tiny — ≤ |nation×segment×band|) broadcast-joined back onto
    the corpus, then ONE summary aggregate. No window, no
    distinct-expansion; the release test is O(1) per row after the
    broadcasts.

    Output: c_mktsegment, n_released, n_supp_k, n_supp_l, n_total.
    """
    cust = table(spark, sf_dir, "customer")
    band = F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000")
    rows = cust.select("c_nationkey", "c_mktsegment", band.alias("b"))
    kg = rows.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count(F.lit(1)).alias("k_n")
    )
    lg = kg.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("l_n")
    )
    joined = rows.join(F.broadcast(kg), ["c_nationkey", "c_mktsegment", "b"]).join(
        F.broadcast(lg), ["c_nationkey", "c_mktsegment"]
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.sum(
                F.when(
                    (F.col("k_n") >= K_ANON) & (F.col("l_n") >= L_DIV), 1
                ).otherwise(0)
            ).alias("n_released"),
            F.sum(F.when(F.col("k_n") < K_ANON, 1).otherwise(0)).alias(
                "n_supp_k"
            ),
            F.sum(
                F.when(
                    (F.col("k_n") >= K_ANON) & (F.col("l_n") < L_DIV), 1
                ).otherwise(0)
            ).alias("n_supp_l"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("c_mktsegment")
    )


_SAFE_RELEASE_SQL = f"""
WITH rows_b AS (
  SELECT c_nationkey, c_mktsegment,
         round(c_acctbal * 100)::BIGINT // 100000 AS b
  FROM customer
), kg AS (
  SELECT c_nationkey, c_mktsegment, b, count(*)::BIGINT AS k_n
  FROM rows_b GROUP BY 1, 2, 3
), lg AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS l_n
  FROM kg GROUP BY 1, 2
)
SELECT r.c_mktsegment,
       sum(CASE WHEN kg.k_n >= {K_ANON} AND lg.l_n >= {L_DIV}
                THEN 1 ELSE 0 END)::BIGINT AS n_released,
       sum(CASE WHEN kg.k_n < {K_ANON} THEN 1 ELSE 0 END)::BIGINT AS n_supp_k,
       sum(CASE WHEN kg.k_n >= {K_ANON} AND lg.l_n < {L_DIV}
                THEN 1 ELSE 0 END)::BIGINT AS n_supp_l,
       count(*)::BIGINT AS n_total
FROM rows_b r
JOIN kg ON kg.c_nationkey = r.c_nationkey
       AND kg.c_mktsegment = r.c_mktsegment AND kg.b = r.b
JOIN lg ON lg.c_nationkey = r.c_nationkey
       AND lg.c_mktsegment = r.c_mktsegment
GROUP BY 1
ORDER BY 1
"""


T_CLOSE_MICRO = 500_000  # max EMD between group and global sensitive dists


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE 2007,
    "t-Closeness: Privacy Beyond k-Anonymity and l-Diversity") — the
    check l-diversity misses: a QI group can span many distinct
    sensitive values yet still leak if its DISTRIBUTION over them
    differs sharply from the table-wide distribution (the skewness
    attack — e.g. a group where rare high balances are 10× over-
    represented).  For categorical sensitive values with uniform
    ground distance the Earth-Mover's Distance reduces to total
    variation: t(g) = ½·Σ_v |p_g(v) − p(v)|.

    Exactness discipline: the per-value gap is
    |c_gv·N − C_v·n_g| / (n_g·N), so t's numerator Σ|c_gv·N − C_v·n_g|
    is an exact long (absent values contribute C_v·n_g — the dense
    grid below makes that explicit) and t_micro quantizes through ONE
    integer DIV.  Integer bound: exact while N² ≤ 2⁶³ (N ≤ 3·10⁹
    customers — the dimension side; fact tables never carry the QI).

    Scale shape: one map-side-combinable (QI, sensitive) count, two
    domain-bounded rollups (per-QI sizes, per-value totals), then a
    DENSE GRID = |QI domain| × |value domain| — data-INDEPENDENT
    cardinality (125 × ~45 here), built by cross-joining the two tiny
    broadcast relations, never by expanding rows.  One aggregate over
    the grid finishes the audit; cost is one wordcount-shaped pass
    at any corpus size.

    Output (violating groups, farthest first): c_nationkey,
    c_mktsegment, group_n, t_micro.
    """
    cust = table(spark, sf_dir, "customer")
    band = F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000")
    obs = (
        cust.select("c_nationkey", "c_mktsegment", band.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment", "sens")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    groups = obs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("n_g")
    )
    values = obs.groupBy("sens").agg(F.sum("cnt").alias("c_v"))
    total = obs.agg(F.sum("cnt").alias("n_total"))
    grid = (
        groups.crossJoin(F.broadcast(values))
        .join(F.broadcast(obs), ["c_nationkey", "c_mktsegment", "sens"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    per_group = grid.groupBy("c_nationkey", "c_mktsegment", "n_g").agg(
        F.sum(
            F.abs(F.col("cnt") * F.col("n_total") - F.col("c_v") * F.col("n_g"))
        ).alias("num"),
        F.max("n_total").alias("n_total"),
    )
    return (
        per_group.select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_g").alias("group_n"),
            F.expr("(num * 500000) DIV (n_g * n_total)").alias("t_micro"),
        )
        .where(F.col("t_micro") > T_CLOSE_MICRO)
        .orderBy(F.desc("t_micro"), "c_nationkey", "c_mktsegment")
    )


_T_CLOSE_SQL = f"""
WITH obs AS (
  SELECT c_nationkey, c_mktsegment,
         round(c_acctbal * 100)::BIGINT // 100000 AS sens,
         count(*)::BIGINT AS cnt
  FROM customer GROUP BY 1, 2, 3
), g AS (
  SELECT c_nationkey, c_mktsegment, sum(cnt)::BIGINT AS n_g
  FROM obs GROUP BY 1, 2
), v AS (SELECT sens, sum(cnt)::BIGINT AS c_v FROM obs GROUP BY 1),
t AS (SELECT sum(cnt)::BIGINT AS n_total FROM obs),
grid AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, v.sens, v.c_v,
         coalesce(obs.cnt, 0)::BIGINT AS cnt
  FROM g CROSS JOIN v
  LEFT JOIN obs ON obs.c_nationkey = g.c_nationkey
               AND obs.c_mktsegment = g.c_mktsegment AND obs.sens = v.sens
), per AS (
  SELECT c_nationkey, c_mktsegment, n_g,
         sum(abs(cnt * n_total - c_v * n_g))::BIGINT AS num,
         max(n_total) AS n_total
  FROM grid CROSS JOIN t GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, n_g AS group_n,
       (num * 500000 // (n_g * n_total))::BIGINT AS t_micro
FROM per
WHERE (num * 500000 // (n_g * n_total)) > {T_CLOSE_MICRO}
ORDER BY t_micro DESC, c_nationkey, c_mktsegment
"""


def tpch_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H REFRESH STREAMS (the RF1 insert / RF2 delete half of
    the spec the 22 query archetypes come from) against the
    commit-protocol sink: RF1 appends a deterministic new-orders
    batch (existing orders key-shifted past the key space — the
    spec's "new sales"), RF2 deletes the oldest tenth by key
    (file-scoped copy-on-write rewrite, not a table rewrite); the
    refreshed table then reads back and aggregates, value-checked
    against the SQL mirror of the same insert/delete algebra.

    This is the lakehouse maintenance loop every warehouse runs
    nightly — load, purge, query — on the same atomic manifest
    commits the A10 upsert tier uses (two generations of history
    stay time-travelable until vacuum).

    Output: n_orders, sum_cents, n_new, n_deleted.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("tpch_rf_"), "t")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    # RF1: new sales = keys shifted past the existing space, prices
    # re-derived deterministically (spec uses fresh seeds; the shift
    # keeps the oracle a pure expression of the base table)
    shift = F.col("o_orderkey") + F.lit(10_000_000)
    rf1 = orders.where(F.col("o_orderkey") % 10 == 3).select(
        shift.alias("o_orderkey"),
        (F.round(F.col("o_totalprice") * 100) / 100 + F.lit(1.5)).alias(
            "o_totalprice"
        ),
    )
    rf1.write.format("mr_manifest").option("path", path).mode("append").save()
    delete_where(spark, path, "o_orderkey % 10 = 0 AND o_orderkey < 10000000")
    live = read_manifest_table(spark, path)
    return live.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.sum((F.col("o_orderkey") >= 10_000_000).cast("long")).alias("n_new"),
        F.sum(
            (
                (F.col("o_orderkey") % 10 == 0)
                & (F.col("o_orderkey") < 10_000_000)
            ).cast("long")
        ).alias("n_deleted"),
    )


_TPCH_REFRESH = """
WITH base AS (
  SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents FROM orders
), rf1 AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, cents + 150 AS cents
  FROM base WHERE o_orderkey % 10 = 3
), refreshed AS (
  SELECT * FROM base WHERE o_orderkey % 10 <> 0
  UNION ALL SELECT * FROM rf1
)
SELECT count(*)::BIGINT AS n_orders,
       sum(cents)::BIGINT AS sum_cents,
       sum((o_orderkey >= 10000000)::BIGINT)::BIGINT AS n_new,
       0::BIGINT AS n_deleted
FROM refreshed
"""


def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION through the commit-protocol sink —
    the lakehouse contract ``schema_evolution_scan`` proves for raw
    directory scans, now through the MANIFEST table: generation 1
    commits (o_orderkey, o_totalprice), generation 2 appends rows
    carrying a NEW column (o_orderpriority), and the
    manifest-trusting reader reconciles the two generations' footers
    with ``merge_schema`` — older rows NULL-fill the new column,
    nothing is rewritten, and stray files stay invisible (both
    properties at once: the commit protocol AND the evolution
    contract). This is Delta's mergeSchema / Iceberg's schema-id
    behavior in its minimal honest form.

    Output: priority (NULL→'<absent>'), n_orders, sum_cents."""

    from ..sources.manifest_sink import ManifestParquetSink, read_manifest_table

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_evo_"), "t")
    orders = table(spark, sf_dir, "orders")
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.format("mr_manifest").option("path", path).mode("append").save()
    orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.format("mr_manifest").option("path", path).mode("append").save()
    merged = read_manifest_table(spark, path, merge_schema=True)
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("<absent>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


def manifest_zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SKIPPING by manifest ZONE MAPS — the per-file min/max
    stats the sink now commits next to each file, consulted at read
    time so a range predicate opens only overlapping files (Delta
    file stats / Iceberg column metrics / the zone-map idea writ
    large). Four range-disjoint files are committed (orders split at
    quarters of max key); the predicate covers the second quarter, so
    the reader must open exactly ONE of four files — and that skip
    ratio is part of the VALUE-CHECKED output, so a stats or pruning
    regression fails the oracle, not just a test.

    At 100 TB this is the difference between "read 3 of 10 000
    files" and a table scan; pruning is conservative (files without
    stats are included) so it can never cost correctness.

    Output: n_files_total, n_files_opened, n_orders, sum_cents.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table_pruned,
        zone_map_files,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_zm_"), "t")
    # one cached 2-column scan feeds the max() sizing aggregate AND
    # all four range-disjoint writes (r5 re-read the parquet five
    # times per call; the projected relation is small by construction
    # — two numeric columns — so caching it is the right trade at any
    # scale where a 4-way range split is driver-orchestrated at all)
    from ..session import track_persist

    orders = track_persist(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    m = orders.agg(F.max("o_orderkey")).first()[0]
    bounds = [0, m // 4, m // 2, 3 * m // 4, m]
    for i in range(4):
        orders.where(
            (F.col("o_orderkey") > bounds[i])
            & (F.col("o_orderkey") <= bounds[i + 1])
        ).repartition(1).write.format("mr_manifest").option("path", path).mode(
            "append"
        ).save()
    lo, hi = bounds[1] + 1, bounds[2]
    kept, total = zone_map_files(path, "o_orderkey", lo, hi)
    pruned = read_manifest_table_pruned(spark, path, "o_orderkey", lo, hi)
    return pruned.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    ).agg(
        F.lit(total).cast("long").alias("n_files_total"),
        F.lit(len(kept)).cast("long").alias("n_files_opened"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_MANIFEST_ZM = """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
SELECT 4::BIGINT AS n_files_total, 1::BIGINT AS n_files_opened,
       count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders, m
WHERE o_orderkey > mx // 4 AND o_orderkey <= mx // 2
"""


N_BAD_JSON = 7  # deterministically planted malformed lines


def json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE semi-structured ingestion — the JSON twin of
    ``corrupt_tolerant_scan``: a JSON-lines export with
    ``N_BAD_JSON`` malformed lines planted among real rows, read
    back in PERMISSIVE mode where bad lines land in the declared
    ``_corrupt_record`` column instead of failing the job (at lake
    scale a feed with a few torn lines must not kill the pipeline,
    and silently DROPPING them is worse — the corrupt count is a
    data-quality metric). The aggregate proves both: every good row
    parsed exactly (sum matches the oracle over orders) and every
    bad line was captured, not lost.

    Output: n_good, n_bad, sum_cents.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = os.path.join(scratch_dir("json_bad_"), "feed")
    orders.coalesce(1).write.mode("overwrite").json(path)
    # plant malformed lines (torn writes) in a second file of the feed
    bad = "\n".join('{"o_orderkey": 1, "o_totalpri' + str(i) for i in range(N_BAD_JSON))
    with open(os.path.join(path, "part-bad.json"), "w", encoding="utf-8") as fh:
        fh.write(bad + "\n")
    back = (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count("_corrupt_record").alias("n_bad"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(),
                F.round(F.col("o_totalprice") * 100).cast("long"),
            )
        ).alias("sum_cents"),
    )


_JSON_CORRUPT = f"""
SELECT count(*)::BIGINT AS n_good,
       {N_BAD_JSON}::BIGINT AS n_bad,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders
"""


def manifest_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on the manifest table with FILE-SCOPED
    copy-on-write (``sources/manifest_sink.delete_where``): orders
    land clustered by priority (one file per priority shard), so
    deleting the URGENT rows rewrites ONLY the file(s) containing
    them — the other shards carry into the new generation by
    reference, zero bytes moved. Completes the table's CRUD
    lifecycle (append/overwrite/upsert/time-travel/vacuum/DELETE);
    the prior generation still shows the deleted rows until vacuum.

    Output: o_orderpriority, n_orders, sum_cents (urgent gone).
    """

    from ..sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_del_"), "t")
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition("o_orderpriority")  # priority-clustered files
    )
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    delete_where(spark, path, "o_orderpriority = '1-URGENT'")
    back = read_manifest_table(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_MANIFEST_DEL = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
"""


def manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE INTO on the manifest table with FILE-SCOPED
    copy-on-write (``sources/manifest_sink.merge_upsert``) — the
    upsert arm of the CRUD lifecycle, now as an optimistic
    transaction like DELETE: orders land priority-clustered (one
    file per priority), then one merge batch UPDATES the urgent
    orders with o_orderkey % 7 = 0 (price bumped by exactly 1000.00)
    and INSERTS synthetic new orders under fresh keys. Only the
    urgent file is rewritten (matched rows anti-joined out with a
    broadcast of the update keys); the other priority files carry by
    reference; all update rows land in one appended file —
    last-write-wins per key, verified by reading the merged view
    back. A commit landing between plan and commit would abort or
    rebase via ``commit_transaction`` (pinned in
    tests/test_sources.py).

    Output: o_orderpriority, n_orders, sum_cents.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        merge_upsert,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_mrg_"), "t")
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition("o_orderpriority")
    )
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    updates = base.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 7 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    max_key = base.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = (
        spark.range(1, 11)
        .select(
            (F.col("id") + max_key).alias("o_orderkey"),
            F.lit("9-SYNTH").alias("o_orderpriority"),
            (F.col("id") * 10.0).alias("o_totalprice"),
        )
    )
    merge_upsert(
        spark, path, updates.unionByName(inserts), ["o_orderkey"]
    )
    back = read_manifest_table(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_MANIFEST_MERGE = """
WITH max_k AS (SELECT max(o_orderkey) AS mk FROM orders),
merged AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0
              THEN o_totalprice + 1000.0 ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT '9-SYNTH', id * 10.0
  FROM max_k, unnest(generate_series(1, 10)) AS u(id)
)
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       sum(round(p * 100)::BIGINT)::BIGINT AS sum_cents
FROM merged GROUP BY 1
"""


def manifest_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete via DELETION VECTORS
    (``sources/manifest_sink.delete_where_dv`` — Delta 2.x deletion
    vectors / Iceberg v2 position deletes): where copy-on-write
    rewrites every file containing a match, a DV delete records the
    deleted (file, row_index) positions in a tiny sidecar and leaves
    every data file byte-identical — at 100 TB a 0.1%-selectivity
    delete costs one narrow scan + kilobytes, not thousands of file
    rewrites. Readers anti-join the broadcast sidecar against the
    scan's hidden ``_metadata`` columns. Two successive DV deletes
    accumulate sidecars on the same entries (the second scan applies
    the first DV, so positions are never double-recorded); PURGE
    (``purge_deletion_vectors`` — Delta's REORG APPLY PURGE) then
    materializes them, and the pre-delete generation still
    time-travels. Three phases, all value-checked against the same
    relational semantics: 'dv' = merge-on-read view after both
    deletes, 'purged' = the same view after physical materialization
    (equality is the purge-correctness proof), 'asof' = generation 1
    (nothing deleted). The no-file-rewritten invariant and conflict/
    vacuum interplay are pinned in tests/test_sources.py.

    Output: phase, o_orderpriority, n_orders, sum_cents.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        delete_where_dv,
        purge_deletion_vectors,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_dv_"), "t")
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition("o_orderpriority")  # priority-clustered files
    )
    orders.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    delete_where_dv(
        spark, path, "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    )
    delete_where_dv(spark, path, "o_orderkey % 5 = 0")

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy(
            F.lit(phase).alias("phase"), F.col("o_orderpriority")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("sum_cents"),
        )

    live = _agg(read_manifest_table(spark, path), "dv")
    purge_deletion_vectors(spark, path)
    purged = _agg(read_manifest_table(spark, path), "purged")
    asof = _agg(read_manifest_table(spark, path, as_of=1), "asof")
    return live.unionByName(purged).unionByName(asof)


_MANIFEST_DV = """
WITH live AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
    AND NOT (o_orderkey % 5 = 0)
),
phased AS (
  SELECT 'dv' AS phase, o_orderpriority, o_totalprice FROM live
  UNION ALL
  SELECT 'purged', o_orderpriority, o_totalprice FROM live
  UNION ALL
  SELECT 'asof', o_orderpriority, o_totalprice FROM orders
)
SELECT phase, o_orderpriority, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM phased GROUP BY 1, 2
"""


def manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF as a NEW COMMIT
    (``sources/manifest_sink.restore_table`` — Delta's RESTORE): after
    a bad delete (g2: urgent orders dropped) and a stray append (g3:
    synthetic '9-SYNTH' rows), restoring to generation 1 re-publishes
    g1's listing at generation 4 — pure metadata, zero bytes moved,
    because commits never delete part files until vacuum. History is
    preserved: the restore is itself a commit, so the broken g3 view
    still time-travels (phase 'pre_restore') while the live table is
    back to the original (phase 'restored'). A restore whose target
    snapshot or data files were vacuumed fails loudly, and a commit
    racing the restore aborts/rebases via the standard transaction
    rules (both pinned in tests/test_sources.py).

    Output: phase, o_orderpriority, n_orders, sum_cents.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
        restore_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_rst_"), "t")
    base = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition("o_orderpriority")
    )
    base.write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()  # g1
    delete_where(spark, path, "o_orderpriority = '1-URGENT'")  # g2
    max_key = (
        table(spark, sf_dir, "orders").agg(F.max("o_orderkey")).collect()[0][0]
    )
    (
        spark.range(1, 11)
        .select(
            (F.col("id") + max_key).alias("o_orderkey"),
            F.lit("9-SYNTH").alias("o_orderpriority"),
            (F.col("id") * 10.0).alias("o_totalprice"),
        )
        .write.format("mr_manifest")
        .option("path", path)
        .mode("append")
        .save()
    )  # g3
    restore_table(path, 1)  # g4 == g1's listing

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy(
            F.lit(phase).alias("phase"), F.col("o_orderpriority")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("sum_cents"),
        )

    restored = _agg(read_manifest_table(spark, path), "restored")
    pre = _agg(read_manifest_table(spark, path, as_of=3), "pre_restore")
    return restored.unionByName(pre)


_MANIFEST_RESTORE = """
WITH max_k AS (SELECT max(o_orderkey) AS mk FROM orders),
pre AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT '9-SYNTH', id * 10.0
  FROM max_k, unnest(generate_series(1, 10)) AS u(id)
),
phased AS (
  SELECT 'restored' AS phase, o_orderpriority, o_totalprice FROM orders
  UNION ALL
  SELECT 'pre_restore', o_orderpriority, o_totalprice FROM pre
)
SELECT phase, o_orderpriority, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM phased GROUP BY 1, 2
"""


def manifest_bloom_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM-FILTER index for equality-probe FILE SKIPPING
    (``sources/manifest_sink.build_bloom_index`` — Delta's Bloom
    filter index / Iceberg's Puffin blobs): orders land
    priority-clustered (one file per priority, checked on the
    committed zone maps — the query raises otherwise), so every
    file spans the FULL o_orderkey range and zone maps cannot prune a
    point lookup — the committed per-file bloom (65536 bits, 7 ×
    xxhash64, built by one distributed scan whose shuffle is at most
    files × 1024 bit-or'd words) prunes it to the one file actually
    containing the key. Three deterministic probes (min key, max key,
    first key above the integer midpoint — integer arithmetic both
    engines, never a float avg boundary) read through
    ``read_manifest_table_point``; the ``pruned`` flag rides along
    (bloom bits are a pure function of the data, so pruning is
    deterministic; a false positive would add a file, never lose the
    row). Zone-map-vs-bloom contrast, definitive-miss behavior, and
    DV interplay are pinned in tests/test_sources.py.

    Output: o_orderkey, o_orderpriority, cents, pruned.
    """
    from ..sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        bloom_prune_files,
        build_bloom_index,
        read_manifest_table_point,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_blm_"), "t")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # ONE hash-clustered append: at 8 partitions the 5 priority
    # strings occupy 5 DISTINCT murmur3 buckets (verified; pinned in
    # tests/test_sources.py::test_bloom_point_clustered_write_layout),
    # so the sink — which writes one file per non-empty partition —
    # lands the same one-file-per-priority layout as the previous 5
    # serialized commit-locked appends, in a single scan + a single
    # manifest transaction (measured 2.7 s → 0.6 s at sf0.1). Every
    # file still spans the full o_orderkey range, so the zone-map-
    # can't-prune / bloom-prunes contrast is unchanged.
    orders.repartition(8, "o_orderpriority").write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    # That layout rests on a hash coincidence, so check it on the
    # committed zone maps (no Spark job): a file whose priority range
    # is not a point means two priorities shared a bucket.
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        for e in json.load(fh)["files"]:
            lo, hi = e["stats"]["o_orderpriority"]
            if lo != hi:
                raise RuntimeError(
                    f"manifest_bloom_point: {e['file']} holds priorities "
                    f"{lo!r}..{hi!r}; the one-file-per-priority layout "
                    "needs each priority in its own hash bucket"
                )
    build_bloom_index(spark, path, "o_orderkey")
    lo, hi = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    mid = (
        orders.where(F.col("o_orderkey") > (lo + hi) // 2)
        .agg(F.min("o_orderkey"))
        .collect()[0][0]
    )
    parts = []
    for key in (lo, mid, hi):
        kept, total = bloom_prune_files(
            spark, path, "o_orderkey", "bigint", int(key)
        )
        parts.append(
            read_manifest_table_point(
                spark, path, "o_orderkey", "bigint", int(key)
            )
            .where(F.col("o_orderkey") == int(key))
            .select(
                "o_orderkey",
                "o_orderpriority",
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                    "cents"
                ),
                F.lit(len(kept) < total).alias("pruned"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_MANIFEST_BLOOM = """
WITH bounds AS (
  SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders
),
keys AS (
  SELECT lo AS k FROM bounds
  UNION ALL
  SELECT min(o_orderkey) FROM orders, bounds
  WHERE o_orderkey > (lo + hi) // 2
  UNION ALL
  SELECT hi FROM bounds
)
SELECT o.o_orderkey, o.o_orderpriority,
       round(o.o_totalprice * 100)::BIGINT AS cents, TRUE AS pruned
FROM orders o JOIN keys ON o.o_orderkey = keys.k
"""


def manifest_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the manifest table — the small-files fix as an
    optimistic TRANSACTION (``sources/manifest_sink.optimize_compact``
    — Delta OPTIMIZE / Iceberg rewrite_data_files): streaming-style
    ingest leaves one file per task (24 small files here), compaction
    greedily bin-packs them to a row target and rewrites each bin as
    one file, committing through the same snapshot-diff conflict
    check as DELETE/MERGE (a concurrent rewrite of a compacting file
    would abort the compactor; disjoint ingest rebases — why OPTIMIZE
    can run beside ingest). Logically invisible by construction: the
    oracle hash-checks the aggregate over the compacted table against
    the plain events table, and the file-count drop + time travel to
    the pre-compaction generation ride along as flag columns.

    Output: event_type, n_events, sum_cents, fewer_files,
    history_intact.
    """
    from ..sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        optimize_compact,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_opt_"), "t")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # ingest-shaped landing: one small file per task
    ev.repartition(24).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    import json as _json

    def _listing():
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            return _json.load(fh)["files"]

    n_before = len(_listing())
    total = sum(e["n_rows"] for e in _listing())
    compacted, bins = optimize_compact(spark, path, max(1, total // 4))
    n_after = len(_listing())
    fewer = int(compacted > 0 and bins > 0 and n_after < n_before)
    # history: the pre-compaction generation still reads in full
    history_intact = int(
        read_manifest_table(spark, path, as_of=1).count() == total
    )
    back = read_manifest_table(spark, path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.lit(fewer).alias("fewer_files"),
        F.lit(history_intact).alias("history_intact"),
    )


_MANIFEST_OPTIMIZE = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
       1 AS fewer_files, 1 AS history_intact
FROM events GROUP BY 1
"""


def manifest_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-COPY CLONE + copy-on-write divergence
    (``sources/manifest_sink.shallow_clone`` — Delta SHALLOW CLONE):
    the clone's manifest references the source's part files by
    absolute path (no data bytes move — asserted: the clone directory
    holds no parquet at clone time), then a DELETE on the clone
    rewrites into the clone's own directory and drops the absolute
    references from its listing while the SOURCE reads back
    bit-identical (asserted as a flag column). The dev/test-table
    workflow every lake team runs: fork a production table for an
    experiment without copying 100 TB.

    Output: o_orderpriority, n_orders, sum_cents, zero_copy,
    source_intact.
    """
    from ..sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
        shallow_clone,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    work = scratch_dir("manifest_cl_")
    src_path = os.path.join(work, "src")
    dst_path = os.path.join(work, "clone")
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition("o_orderpriority")
    )
    orders.write.format("mr_manifest").option("path", src_path).mode(
        "append"
    ).save()
    n_src = read_manifest_table(spark, src_path).count()
    shallow_clone(src_path, dst_path)
    zero_copy = int(
        not any(f.endswith(".parquet") for f in os.listdir(dst_path))
    )
    delete_where(spark, dst_path, "o_orderpriority = '1-URGENT'")
    source_intact = int(
        read_manifest_table(spark, src_path).count() == n_src
    )
    back = read_manifest_table(spark, dst_path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.lit(zero_copy).alias("zero_copy"),
        F.lit(source_intact).alias("source_intact"),
    )


_MANIFEST_CLONE = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
       1 AS zero_copy, 1 AS source_intact
FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
"""


def manifest_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIT-ROT DETECTION from commit-time digests
    (``sources/manifest_sink.integrity_audit``): every sink commit
    now records each part file's sha256; the audit re-hashes the
    listed files distributed (Arrow-batched map, one pass over the
    bytes) and reports per-file status. The query plants real
    corruption — one byte flipped in one committed file — and the
    audit must name exactly that file corrupt while the other three
    verify ok; a rewrite-adopted file without a digest would report
    'unverified' rather than pretending (honesty over green).

    Output: status, n_files.
    """
    from ..sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        integrity_audit,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_int_"), "t")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.repartition(4).write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()
    import json as _json

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        files = sorted(e["file"] for e in _json.load(fh)["files"])
    victim = os.path.join(path, files[0])
    with open(victim, "r+b") as fh:
        fh.seek(-1, os.SEEK_END)
        last = fh.read(1)
        fh.seek(-1, os.SEEK_END)
        fh.write(bytes([last[0] ^ 0xFF]))
    return (
        integrity_audit(spark, path)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_files"))
        .orderBy("status")
    )


_MANIFEST_INTEGRITY = """
SELECT * FROM (VALUES ('corrupt', 1::BIGINT), ('ok', 3::BIGINT))
  AS t(status, n_files)
ORDER BY status
"""


def manifest_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY on the manifest table: one row per committed
    generation with the recorded operation, the file-churn counts
    (snapshot-diff of the listings — the same derivation the CDF
    source uses), and the net row delta from the committed per-file
    row counts. Pure manifest-metadata arithmetic — zero data files
    read, which is the point: a table's audit log must be answerable
    from the log alone at any scale. Runs over the shared 3-commit
    staging (append → optimistic merge → copy-on-write delete), so
    every value is closed-form for the oracle.

    Output: gen, op, files_added, files_removed, rows_delta.
    """
    import json as _json

    from ..sources.manifest_cdf import staged_cdf_table
    from ..sources.manifest_sink import MANIFEST

    path = staged_cdf_table(spark, sf_dir)

    def snap(g: int) -> dict:
        with open(
            os.path.join(path, f"{MANIFEST}.g{g}"), encoding="utf-8"
        ) as fh:
            return _json.load(fh)

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        head = _json.load(fh)["generation"]
    rows = []
    prev_files: dict[str, int] = {}
    for g in range(1, head + 1):
        doc = snap(g)
        cur_files = {e["file"]: e["n_rows"] for e in doc["files"]}
        added = set(cur_files) - set(prev_files)
        removed = set(prev_files) - set(cur_files)
        rows.append(
            (
                g,
                doc.get("op", "append"),
                len(added),
                len(removed),
                sum(cur_files[f] for f in added)
                - sum(prev_files[f] for f in removed),
            )
        )
        prev_files = cur_files
    return spark.createDataFrame(
        rows,
        "gen int, op string, files_added int, files_removed int, "
        "rows_delta long",
    ).orderBy("gen")


_MANIFEST_HISTORY = """
WITH base AS (
  SELECT o_orderkey AS k FROM orders
), n AS (
  SELECT
    (SELECT count(*) FROM base WHERE k % 2 = 0) AS n_evens,
    (SELECT count(*) FROM base WHERE k % 10 = 1) AS n_ins,
    (SELECT count(*) FROM base
     WHERE k % 2 = 0 AND k % 14 = 0 AND k % 10 <> 0) AS n_del
)
SELECT * FROM (
  SELECT 1 AS gen, 'append' AS op, 1 AS files_added, 0 AS files_removed,
         n_evens::BIGINT AS rows_delta FROM n
  UNION ALL
  SELECT 2, 'merge', 2, 1, n_ins::BIGINT FROM n
  UNION ALL
  SELECT 3, 'delete', 1, 1, -n_del::BIGINT FROM n
) ORDER BY gen
"""


def cdf_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLD-TABLE MAINTENANCE FROM THE CHANGE FEED — the lakehouse
    pipeline shape (Delta CDF → incremental MERGE into a downstream
    rollup): a materialized group rollup of the table's FIRST
    generation absorbs the later commits' changes as SIGNED deltas
    read from ONLY the files each commit added/removed (never a
    snapshot rescan — refresh work ∝ commit size, the counting-method
    IVM ``ivm_aggregate_maintenance`` proves on synthetic deltas, here
    driven by the real table log). Rows a rewrite merely moved appear
    +1/−1 and cancel inside the keyed aggregate, so no explicit
    multiset diff is even needed; groups whose maintained count hits
    zero vanish. The staged table takes the same three commits as
    ``stream_manifest_cdf`` (append, optimistic keyed merge,
    copy-on-write delete); the oracle rebuilds the rollup from the
    FINAL logical state closed-form — a missed retraction or
    double-applied insert hash-mismatches.

    Output: grp, n_rows, sum_cents.
    """
    from ..sources.manifest_cdf import _gen_files, staged_cdf_table
    from ..sources.manifest_sink import MANIFEST, read_manifest_table

    path = staged_cdf_table(spark, sf_dir)  # gens 1-3, process-memoized

    grp = (F.col("k") % 100).alias("grp")
    v1 = read_manifest_table(spark, path, as_of=1).select(
        grp, F.lit(1).alias("dn"), F.col("cents").alias("ds")
    )
    import json as _json

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        head = _json.load(fh)["generation"]
    parts = [v1]
    for g in range(2, head + 1):
        prev = set(_gen_files(path, g - 1))
        cur = set(_gen_files(path, g))
        added = sorted(cur - prev)
        removed = sorted(prev - cur)
        if added:
            parts.append(
                spark.read.parquet(*[os.path.join(path, f) for f in added])
                .select(grp, F.lit(1).alias("dn"), F.col("cents").alias("ds"))
            )
        if removed:
            parts.append(
                spark.read.parquet(*[os.path.join(path, f) for f in removed])
                .select(
                    grp,
                    F.lit(-1).alias("dn"),
                    (-F.col("cents")).alias("ds"),
                )
            )
    from functools import reduce

    allrows = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        allrows.groupBy("grp")
        .agg(F.sum("dn").alias("n_rows"), F.sum("ds").alias("sum_cents"))
        .where(F.col("n_rows") > 0)
        .orderBy("grp")
    )


_CDF_IVM = """
WITH base AS (
  SELECT o_orderkey AS k, round(o_totalprice * 100)::BIGINT AS cents
  FROM orders
), final_rows AS (
  SELECT k, cents FROM base
  WHERE k % 2 = 0 AND k % 10 <> 0 AND k % 14 <> 0
  UNION ALL
  SELECT k, cents + 111 FROM base WHERE k % 2 = 0 AND k % 10 = 0
  UNION ALL
  SELECT k, cents FROM base WHERE k % 10 = 1
)
SELECT k % 100 AS grp, count(*)::BIGINT AS n_rows,
       sum(cents)::BIGINT AS sum_cents
FROM final_rows GROUP BY 1 ORDER BY 1
"""


def concurrent_writers_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC MULTI-WRITER semantics on the manifest table — the
    Delta/Iceberg ConcurrentModification contract
    (``sources/manifest_sink.commit_transaction``): every transaction
    records the generation its reads were based on; at commit time,
    under the lock, the generations committed since are snapshot-
    diffed. Two staged writer pairs exercise both branches:

    - DISJOINT: txn A (rewrites the clicks file) and txn B (rewrites
      the views file) both plan against the same base; B commits
      first; A's commit detects no file overlap and REBASES onto B's
      listing — both deletions land, neither clobbers the other (the
      lost-update the lock alone could not prevent).
    - OVERLAPPING: txn C and txn D both plan a rewrite of the SAME
      clicks file against the same base; C commits first; D's commit
      finds its base superseded by a commit that removed the very
      file D rewrote → ABORTS with ConcurrentWriteConflictError, and
      its staged part file (never manifest-visible) is cleaned.

    The final table state is therefore exact and oracle-checkable:
    clicks lose odd ids (A) then multiples of 3 (C, applied to A's
    survivors); views lose even ids (B); D's multiples-of-5 delete
    never applies. Protocol outcomes ride along as flag columns —
    a wrong branch (A clobbered, D committed, bad generation, stray
    file leaked) zeroes a flag and fails the correctness hash.

    Output: event_type, n_live, sum_cents, disjoint_both_committed,
    overlap_aborted, gen_ok.
    """
    from ..sources.manifest_sink import (
        MANIFEST,
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        abort_transaction,
        commit_transaction,
        plan_delete,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_cc_"), "t")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # one file per slice so predicates map to disjoint file sets
    for pred in (
        "event_type = 'click'",
        "event_type = 'view'",
        "event_type NOT IN ('click', 'view')",
    ):
        ev.where(pred).coalesce(1).write.format("mr_manifest").option(
            "path", path
        ).mode("append").save()

    # -- disjoint pair: both must land ------------------------------
    txn_a = plan_delete(spark, path, "event_type = 'click' AND event_id % 2 = 1")
    txn_b = plan_delete(spark, path, "event_type = 'view' AND event_id % 2 = 0")
    commit_transaction(path, txn_b)  # B lands first
    a_committed = True
    try:
        commit_transaction(path, txn_a)  # disjoint → rebase over B
    except ConcurrentWriteConflictError:
        a_committed = False

    # -- overlapping pair: second committer must abort ---------------
    txn_c = plan_delete(spark, path, "event_type = 'click' AND event_id % 3 = 0")
    txn_d = plan_delete(spark, path, "event_type = 'click' AND event_id % 5 = 0")
    commit_transaction(path, txn_c)  # C lands first
    d_aborted = False
    try:
        commit_transaction(path, txn_d)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn_d)
        d_aborted = True
    stray_cleaned = all(
        not os.path.exists(os.path.join(path, e["file"]))
        for e in txn_d["add_entries"]
    )

    # 3 appends + B + A + C = generation 6
    import json as _json

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        gen_ok = _json.load(fh).get("generation") == 6

    live = read_manifest_table(spark, path)
    return live.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.lit(int(a_committed)).alias("disjoint_both_committed"),
        F.lit(int(d_aborted and stray_cleaned)).alias("overlap_aborted"),
        F.lit(int(gen_ok)).alias("gen_ok"),
    )


_CONCURRENT_WRITERS = """
SELECT event_type, count(*)::BIGINT AS n_live,
       sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
       1 AS disjoint_both_committed, 1 AS overlap_aborted, 1 AS gen_ok
FROM events
WHERE CASE WHEN event_type = 'click'
             THEN event_id % 2 = 0 AND event_id % 3 <> 0
           WHEN event_type = 'view' THEN event_id % 2 = 1
           ELSE TRUE END
GROUP BY 1
"""


GREP_NEEDLE = "stream"  # a mid-frequency vocabulary word


def linescan_pushdown_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through the custom Python data source
    (``linescan.pushFilters``): the `line CONTAINS needle` predicate
    is absorbed by the reader, which greps while streaming the file
    — non-matching lines never become Arrow rows and never cross the
    Python→JVM boundary. The plan's scan node records the pushdown
    (``PushedFilters: [StringContains(line,...)]``, plan-asserted);
    Spark still re-checks the predicate post-scan (its conservative
    default for Python sources — correct under a buggy reader, and
    nearly free on the already-filtered trickle). This is the
    grep_filter query (hashmap_test.c:35-37's client-side token
    predicate) executed AT THE SOURCE — the I/O-level difference
    between scanning 100 TB and scanning the matching fraction.

    Output: n_lines, n_tokens (over matching lines only).
    """
    from ..functions.text import tokens as _tokens
    from ..sources.linescan import LineScanDataSource

    try:
        spark.dataSource.register(LineScanDataSource)
    except Exception:
        pass
    # the reader implements pushFilters(); Spark refuses to plan it
    # unless the python filter-pushdown capability is on (set at
    # runtime so driver-owned vanilla sessions work too)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    work = scratch_dir("linescan_grep_")
    shards = os.path.join(work, "shards")
    (
        table(spark, sf_dir, "documents")
        .select("text")
        .repartition(4)
        .write.text(shards)
    )
    lines = (
        spark.read.format("mr_linescan")
        .option("path", shards)
        .load()
        .where(F.col("line").contains(GREP_NEEDLE))
    )
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.size(_tokens("line"))).alias("n_tokens"),
    )


_LINESCAN_GREP = f"""
SELECT count(*)::BIGINT AS n_lines,
       sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> t <> '')))::BIGINT AS n_tokens
FROM documents WHERE text LIKE '%{GREP_NEEDLE}%'
"""


def manifest_changes_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the manifest table: reconstruct the
    row-level changes between two committed generations purely from
    their snapshots (``_MANIFEST.g1`` vs ``_MANIFEST.g2``) — the
    Delta CDF / Iceberg changelog contract, derived rather than
    logged. gen1 = even orders; gen2 = same table after a batch of
    inserts (odd keys), updates (+111 cents on keys %10==0) and
    deletes (%14==0 non-updated evens). The feed is
    ``cur EXCEPT ALL prev`` (additions) / ``prev EXCEPT ALL cur``
    (removals), with keys present on both sides reclassified as
    update pre/post images via a semi-join.

    Scale shape: the diff is one hash-partitioned EXCEPT per
    direction (shuffle on the full row) — no sort, no collect; a
    production table would scope it to changed files via manifest
    stats, the same file-pruning ``delete_where`` already does on
    the write side.

    Output: change_type, n_rows, sum_cents.
    """
    from ..sources.manifest_sink import ManifestParquetSink, read_manifest_table

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    path = os.path.join(scratch_dir("manifest_cdc_"), "t")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    k = F.col("k")
    base = o.where(k % 2 == 0)
    base.write.format("mr_manifest").option("path", path).mode(
        "overwrite"
    ).save()
    gen2 = (
        base.where((k % 10 != 0) & (k % 14 != 0))  # survivors unchanged
        .unionByName(
            base.where(k % 10 == 0).withColumn("cents", F.col("cents") + 111)
        )
        .unionByName(o.where(k % 2 == 1))
    )
    gen2.write.format("mr_manifest").option("path", path).mode(
        "overwrite"
    ).save()

    prev = read_manifest_table(spark, path, as_of=1)
    cur = read_manifest_table(spark, path, as_of=2)
    # Each diff feeds three consumers (update-key intersect + the
    # semi/anti tagging); localCheckpoint materializes it once
    # instead of re-running the EXCEPT per consumer.
    added = cur.exceptAll(prev).localCheckpoint()
    removed = prev.exceptAll(cur).localCheckpoint()
    upd_keys = added.select("k").intersect(removed.select("k"))

    def tag(df: DataFrame, both: str, only: str) -> DataFrame:
        hit = df.join(upd_keys, "k", "left_semi").withColumn(
            "change_type", F.lit(both)
        )
        miss = df.join(upd_keys, "k", "left_anti").withColumn(
            "change_type", F.lit(only)
        )
        return hit.unionByName(miss)

    feed = tag(added, "update_postimage", "insert").unionByName(
        tag(removed, "update_preimage", "delete")
    )
    return feed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )


_MANIFEST_CDC = """
WITH o AS (
  SELECT o_orderkey AS k, round(o_totalprice * 100)::BIGINT AS c
  FROM orders
)
SELECT 'insert' AS change_type, count(*)::BIGINT AS n_rows,
       sum(c)::BIGINT AS sum_cents FROM o WHERE k % 2 = 1
UNION ALL
SELECT 'delete', count(*)::BIGINT, sum(c)::BIGINT
FROM o WHERE k % 2 = 0 AND k % 10 <> 0 AND k % 14 = 0
UNION ALL
SELECT 'update_preimage', count(*)::BIGINT, sum(c)::BIGINT
FROM o WHERE k % 2 = 0 AND k % 10 = 0
UNION ALL
SELECT 'update_postimage', count(*)::BIGINT, sum(c + 111)::BIGINT
FROM o WHERE k % 2 = 0 AND k % 10 = 0
"""


META_N_FILES = 4  # staged layout the _metadata scan must recover


def file_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns — per-row provenance the
    file scan exposes for free (file name/size/mod-time), the audit
    primitive behind "which file did this bad row come from" at
    lake scale: no join against a file inventory, every row carries
    its source. The entry stages documents as a known 4-file layout,
    reads it back, and recovers that physical layout purely from
    ``_metadata``: distinct file count, per-file row balance, and
    total rows — while ``sum(_metadata.file_size)`` equaling the
    directory's on-disk bytes is pinned in tests (not the oracle:
    byte sizes are layout-, codec- and engine-version-dependent).

    Output: n_files, n_rows, every_file_nonempty.
    """
    path = os.path.join(scratch_dir("file_meta_"), "docs")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    docs.repartition(META_N_FILES).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_name").alias("fname")
    )
    per_file = back.groupBy("fname").agg(F.count(F.lit(1)).alias("n"))
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n").alias("n_rows"),
        (F.min("n") > F.lit(0)).alias("every_file_nonempty"),
    )


_FILE_META = f"""
SELECT {META_N_FILES}::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
       true AS every_file_nonempty
FROM documents
"""


def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill write
    pattern: rewriting one partition's data replaces ONLY the
    partitions the new write touches, leaving every other partition
    byte-untouched (STATIC mode would wipe the whole table first; at
    100 TB that difference is the whole job). Events land partitioned
    by event_type; the 'error' partition is then re-written keeping
    only errors with value above the partition median — the read-back
    must show the other four partitions exactly as first written.
    The conf is set per-write via ``.option("partitionOverwriteMode",
    "dynamic")``, not session-wide, so concurrent entries are
    unaffected.

    Output: event_type, n_rows, sum_value_milli.
    """
    path = os.path.join(scratch_dir("dyn_overwrite_"), "t")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)

    errs = ev.where(F.col("event_type") == "error")
    med = errs.agg(
        F.expr("percentile(v_milli, 0.5)").alias("med")
    )  # exact median, 1 row
    keep = errs.join(F.broadcast(med)).where(F.col("v_milli") > F.col("med"))
    (
        keep.drop("med")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v_milli").alias("sum_value_milli"),
    )


_DYN_OVERWRITE = """
WITH ev AS (
  SELECT event_type, round(value * 1000)::BIGINT AS v
  FROM events
), med AS (
  SELECT median(v) AS m FROM ev WHERE event_type = 'error'
)
SELECT event_type, count(*)::BIGINT AS n_rows,
       sum(v)::BIGINT AS sum_value_milli
FROM ev, med
WHERE event_type <> 'error' OR v > m
GROUP BY 1
"""


def corrupt_tolerant_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-path resilience: a table directory where one part file
    is garbage bytes (a torn upload, a truncated object-store PUT —
    routine at 100 TB) read with ``ignoreCorruptFiles``, which skips
    the unreadable file and returns every row of the healthy ones.
    The split is deterministic (orders by even/odd key, corrupt file
    replaces the odd half), so the oracle is the even-key aggregate
    — any accidental inclusion or loss shifts the exact-cents sums.

    Default-off by design: without the option the same read throws,
    which the paired test asserts — silent tolerance everywhere
    would hide real data loss; it's a per-read decision.

    Output: o_orderstatus, n_orders, sum_cents."""

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir("corrupt_scan_")
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    # the odd half never lands: its file is garbage from byte 0
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"\x00torn-upload-not-a-parquet-file\x00" * 64)
    healthy = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    )
    return healthy.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
    )


_CORRUPT_SCAN = """
SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
"""


# Misra-Gries sketch width for heavy_hitters. Guarantee: after the
# subtract-and-drop merge, any token with partition count >
# n_p/(MG_COUNTERS+1) survives the partition's sketch; a GLOBAL heavy
# hitter (count > N/HH_K) must by pigeonhole exceed n_p/HH_K in at
# least one partition, and n_p/HH_K >= n_p/(MG_COUNTERS+1) there, so
# the candidate union is a provable superset — which makes the exact
# second-pass filter deterministic (oracle-checkable) regardless of
# partitioning. SOUNDNESS PRECONDITION: HH_K <= MG_COUNTERS + 1
# (31 <= 129 here, asserted below) — with a sketch narrower than
# that, low-count heavy hitters can evict and the superset claim
# fails (hypothesis-demonstrated in tests/test_properties.py).
MG_COUNTERS = 128
HH_K = 31  # heavy hitter = frequency strictly above the uniform 1/31 share
assert HH_K <= MG_COUNTERS + 1


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent elements in two passes: per-partition Misra-Gries
    candidate sketches, then an exact recount restricted to the
    candidate set (reference A8/A9 family — a frequency query the
    689-LoC engine answers by full reduce; here the classic
    bounded-memory form).

    Scale shape — the point of the sketch pass: a plain
    ``groupBy(key).count()`` over a massive-cardinality key (user
    ids, URLs) shuffles one record per distinct key and holds the
    full key space in aggregation state. Pass 1 is NARROW (zero
    shuffle): mapInPandas holds O(MG_COUNTERS + reduction-chunk)
    counters per partition (the sketch reduces back to ≤ MG_COUNTERS
    after every 4096-row chunk) and emits ≤ MG_COUNTERS candidate
    rows per partition — KBs regardless of input size or key
    cardinality. Pass 2 semi-joins the
    tiny broadcast candidate set BEFORE the aggregation, so the
    exact count shuffles only candidate-key rows and its state is
    O(candidates), not O(distinct keys). The superset guarantee
    (see MG_COUNTERS) means the final ``cnt·HH_K > N`` filter
    returns exactly the true heavy hitters.

    Output: token, cnt for every token with cnt·HH_K > N."""
    toks = _token_df(spark, sf_dir).select("token")

    def mg_sketch(batches):
        import pandas as pd

        # Memory bound: the dict is reduced back to <= MG_COUNTERS
        # after every CHUNK of rows, so peak state is
        # O(MG_COUNTERS + chunk) regardless of batch size or key
        # cardinality — accumulating a whole Arrow batch's
        # value_counts first would hold one counter per distinct key
        # in the batch, exactly the blow-up the sketch exists to
        # avoid on high-cardinality keys.
        chunk = 4096
        counters: dict[str, int] = {}
        for pdf in batches:
            col = pdf["token"]
            for lo in range(0, len(col), chunk):
                for tok, c in col.iloc[lo : lo + chunk].value_counts().items():
                    counters[tok] = counters.get(tok, 0) + int(c)
                if len(counters) > MG_COUNTERS:
                    # batched MG reduction: subtract the
                    # (MG_COUNTERS+1)-th largest count from every
                    # counter, drop the non-positive
                    vals = sorted(counters.values(), reverse=True)
                    m = vals[MG_COUNTERS]
                    counters = {
                        t: c - m for t, c in counters.items() if c > m
                    }
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = toks.mapInPandas(mg_sketch, "token string").distinct()
    total = toks.agg(F.count("*").alias("n_total"))
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * HH_K > F.col("n_total"))
        .select("token", "cnt")
    )


def upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A10 (hashmap sink last-write-wins MapPut,
    hashmap.c:40-46) exercised end-to-end through the keyed parquet
    sink: orders split into two update batches by order-key parity,
    upserted sequentially into one keyed table (key = cust_key,
    version = order_key), then read back. Last-write-wins by version
    across both batches means the surviving row per customer is the
    one with the maximum order key — which is exactly what the
    window-SQL oracle computes over the raw table, so the sink's
    merge semantics (not just its plumbing) are value-checked.

    Scale shape: the merge is one window over (key) — a single hash
    shuffle on the key column; the swap is the Delta/Iceberg MERGE
    seam documented on the sink."""

    from ..sources import read_keyed_table, upsert_keyed_parquet

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
    )
    path = os.path.join(scratch_dir("upsert_rt_"), "state")
    for parity in (0, 1):
        upsert_keyed_parquet(
            spark,
            orders.filter(F.col("order_key") % 2 == parity),
            path,
            key_cols=["cust_key"],
            version_col="order_key",
        )
    return read_keyed_table(spark, path)


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth (A1/A2's file-source contract across
    formats) driven end-to-end under the driver: orders written to
    CSV (header), re-read with an EXPLICIT schema (never inference —
    an inference pass is a full extra read at 100 TB), aggregated.
    The oracle aggregates the original parquet table, so the entry
    value-checks that the CSV writer/reader round-trip preserves
    longs and doubles exactly (Spark emits round-trippable shortest
    representations), not merely that the files exist.

    Output: o_orderstatus, n_orders, sum_total.
    """

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = os.path.join(scratch_dir("csv_rt_"), "orders_csv")
    orders.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
        )
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            _dsum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0)
        ).alias("sum_total"),
    )


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip, schema'd re-read (same
    no-inference discipline as csv_roundtrip), INCLUDING a timestamp
    column through the wire: o_orderdate is ms-precision, and
    Spark's JSON writer/reader round-trips ISO-8601 at that
    precision exactly, which the year() grouping then witnesses
    against the parquet-side oracle.

    Output: o_orderstatus, o_year, n_orders, sum_total.
    """

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"
    )
    path = os.path.join(scratch_dir("json_rt_"), "orders_json")
    orders.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_totalprice double, o_orderstatus string, o_orderdate timestamp"
    ).json(path)
    return back.groupBy(
        "o_orderstatus", F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            _dsum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0)
        ).alias("sum_total"),
    )


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip — the third columnar wire format
    next to parquet (scans) and CSV/JSON (text), completing the
    format breadth of A1/A2's file-source contract. ORC matters at
    lake scale because whole warehouses are already stored in it;
    an engine that can't read/write it can't coexist. Explicit
    schema on re-read (same no-inference discipline as
    csv_roundtrip) including a timestamp column: ORC stores µs
    timestamps natively, and the year() grouping witnesses exact
    round-trip against the parquet-side oracle.

    Output: o_orderstatus, o_year, n_orders, sum_total.
    """

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        # NTZ on the wire regardless of the input's flavor: the
        # catalog serves naive timestamps (DuckDB parity) but other
        # table providers may serve LTZ; ORC preserves the logical
        # type exactly and its reader refuses cross-flavor casts
        # (ORC_TYPE_CAST), so pin NTZ before the write (UTC session
        # → deterministic).
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
    )
    path = os.path.join(scratch_dir("orc_rt_"), "orders_orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "o_orderkey long, o_totalprice double, o_orderstatus string, o_orderdate timestamp_ntz"
    ).orc(path)
    return back.groupBy(
        "o_orderstatus", F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            _dsum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0)
        ).alias("sum_total"),
    )


def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round-trip — Spark 4's NATIVE XML data source
    (no external package), completing the text-wire-format breadth
    next to CSV and JSON-lines. XML still carries real enterprise
    feeds (SEC filings, PubMed, legacy B2B exports); an ingest
    engine meets that data as-is. Same no-inference discipline as
    the other round-trips: explicit schema on re-read (schema
    inference over XML is a full extra parse of every file at
    100 TB). The per-nation aggregate is value-checked against the
    parquet original, so the entry proves longs and 2-decimal
    doubles survive the text encoding exactly — not merely that
    files appeared.

    Output: s_nationkey, n_suppliers, sum_acctbal.
    """

    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = os.path.join(scratch_dir("xml_rt_"), "supplier_xml")
    supp.write.mode("overwrite").format("xml").option("rowTag", "supplier").save(
        path
    )
    back = (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .format("xml")
        .option("rowTag", "supplier")
        .load(path)
    )
    return back.groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (
            _dsum(F.round(F.col("s_acctbal") * 100).cast("long")) / F.lit(100.0)
        ).alias("sum_acctbal"),
    )


PRUNED_EVENT_TYPE = "purchase"


def partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink + partition-PRUNED re-scan end-to-end:
    events written ``partitionBy(event_type)``, read back filtered
    to one type — the filter prunes to a single partition directory
    (PartitionFilters on the scan, plan-asserted in
    tests/test_plans.py), which at 100 TB is the difference between
    reading one enum's worth of data and the whole table. The
    aggregate is value-checked against the unpartitioned original.

    Output: n_events, n_users, sum_value.
    """

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    path = os.path.join(scratch_dir("part_prune_"), "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type") == PRUNED_EVENT_TYPE
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (
            _dsum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)
        ).alias("sum_value"),
    )


def custom_partition_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows per partition under bit-exact djb2 with n=10 (A5,
    MR_DefaultHashPartition mapreduce.c:88-94; pluggable-partitioner
    contract A6, mapreduce.h:11). The hash is a pure Catalyst
    expression (functions/text.py).

    Shape: pid is a pure function of the token, so hash the
    VOCABULARY, not the token stream — count per token first (cheap
    codegen'd hash-agg with map-side combine), then run the
    per-character djb2 fold over the distinct tokens only and re-sum.
    On a zipfian corpus that is orders of magnitude fewer fold
    evaluations than hashing every occurrence; at 100 TB the
    occurrence-stream formulation is the difference between hashing
    10^12 rows and 10^7."""
    return (
        _token_df(spark, sf_dir)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_cnt"))
        .select(
            djb2_partition(F.col("token"), N_PARTITIONS).alias("pid"), "tok_cnt"
        )
        .groupBy("pid")
        .agg(F.sum("tok_cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (identical aliases; see operators/__init__.py).
# Documents.text is single-space separated, but we split on regex
# whitespace + drop empties on both sides for identical semantics.

_TOKENS_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token
  FROM documents
)
"""

_DJB2 = (
    "list_reduce("
    "list_prepend(5381::HUGEINT, list_transform(string_split(token, ''), c -> ord(c)::HUGEINT)), "
    "(acc, c) -> (acc * 33 + c) % 18446744073709551616::HUGEINT"
    ") % 10"
)

QUERIES = {
    "wordcount": wordcount,
    "wordcount_ci": wordcount_ci,
    "wordcount_lookup": wordcount_lookup,
    "csv_roundtrip": csv_roundtrip,
    "json_roundtrip": json_roundtrip,
    "orc_roundtrip": orc_roundtrip,
    "xml_roundtrip": xml_roundtrip,
    "partitioned_pruned_scan": partitioned_pruned_scan,
    "grep_filter": grep_filter,
    "distinct_keys": distinct_keys,
    "partitioned_sort": partitioned_sort,
    "inverted_index": inverted_index,
    "custom_partition_hist": custom_partition_hist,
    "mr_wordcount": mr_wordcount,
    "upsert_roundtrip": upsert_roundtrip,
    "heavy_hitters": heavy_hitters,
    "schema_evolution_scan": schema_evolution_scan,
    "manifest_schema_evolution": manifest_schema_evolution,
    "manifest_zone_map_scan": manifest_zone_map_scan,
    "linescan_wordcount": linescan_wordcount,
    "custom_sink_roundtrip": custom_sink_roundtrip,
    "manifest_time_travel": manifest_time_travel,
    "manifest_vacuum_roundtrip": manifest_vacuum_roundtrip,
    "tpch_refresh_roundtrip": tpch_refresh_roundtrip,
    "partition_evolution_roundtrip": partition_evolution_roundtrip,
    "masked_customer_view": masked_customer_view,
    "k_anonymity_audit": k_anonymity_audit,
    "l_diversity_audit": l_diversity_audit,
    "safe_release_view": safe_release_view,
    "t_closeness_audit": t_closeness_audit,
    "multi_table_commit_roundtrip": multi_table_commit_roundtrip,
    "indexed_token_lookup": indexed_token_lookup,
    "manifest_delete_rows": manifest_delete_rows,
    "manifest_merge_upsert": manifest_merge_upsert,
    "manifest_delete_dv": manifest_delete_dv,
    "manifest_restore": manifest_restore,
    "manifest_bloom_point": manifest_bloom_point,
    "concurrent_writers_conflict": concurrent_writers_conflict,
    "cdf_incremental_rollup": cdf_incremental_rollup,
    "manifest_optimize_compact": manifest_optimize_compact,
    "manifest_history_audit": manifest_history_audit,
    "manifest_shallow_clone": manifest_shallow_clone,
    "manifest_integrity_audit": manifest_integrity_audit,
    "manifest_changes_cdc": manifest_changes_cdc,
    "dynamic_partition_overwrite": dynamic_partition_overwrite,
    "file_metadata_scan": file_metadata_scan,
    "linescan_pushdown_grep": linescan_pushdown_grep,
    "json_corrupt_records": json_corrupt_records,
    "corrupt_tolerant_scan": corrupt_tolerant_scan,
}

ORACLES = {
    "wordcount": _TOKENS_CTE
    + "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token",
    # lower() grouping == UTF8_LCASE equivalence on the ASCII corpus
    "wordcount_ci": _TOKENS_CTE
    + (
        ", v AS (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(token) "
        "ELSE token END AS w FROM toks) "
        "SELECT min(w) AS repr_token, count(*)::BIGINT AS cnt "
        "FROM v GROUP BY lower(w)"
    ),
    "csv_roundtrip": (
        "SELECT o_orderstatus, count(*)::BIGINT AS n_orders, "
        "sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_total "
        "FROM orders GROUP BY 1"
    ),
    "json_roundtrip": (
        "SELECT o_orderstatus, year(o_orderdate)::BIGINT AS o_year, "
        "count(*)::BIGINT AS n_orders, "
        "sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_total "
        "FROM orders GROUP BY 1, 2"
    ),
    "orc_roundtrip": (
        "SELECT o_orderstatus, year(o_orderdate)::BIGINT AS o_year, "
        "count(*)::BIGINT AS n_orders, "
        "sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_total "
        "FROM orders GROUP BY 1, 2"
    ),
    "xml_roundtrip": (
        "SELECT s_nationkey::BIGINT AS s_nationkey, "
        "count(*)::BIGINT AS n_suppliers, "
        "sum(round(s_acctbal * 100)::BIGINT) / 100.0 AS sum_acctbal "
        "FROM supplier GROUP BY 1"
    ),
    "partitioned_pruned_scan": (
        "SELECT count(*)::BIGINT AS n_events, "
        "count(DISTINCT user_id)::BIGINT AS n_users, "
        "sum(round(value * 100)::BIGINT) / 100.0 AS sum_value "
        "FROM events WHERE event_type = 'purchase'"
    ),
    "wordcount_lookup": _TOKENS_CTE
    + f"SELECT token, count(*)::BIGINT AS cnt FROM toks WHERE token = '{LOOKUP_TERM}' GROUP BY token",
    "grep_filter": _TOKENS_CTE
    + f"SELECT token, count(*)::BIGINT AS cnt FROM toks WHERE contains(token, '{GREP_PATTERN}') GROUP BY token",
    "distinct_keys": _TOKENS_CTE + "SELECT DISTINCT token FROM toks",
    "partitioned_sort": _TOKENS_CTE
    + "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token ORDER BY token",
    "inverted_index": _TOKENS_CTE
    + (
        "SELECT token, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids, "
        "count(DISTINCT doc_id)::BIGINT AS n_docs FROM toks GROUP BY token"
    ),
    "custom_partition_hist": _TOKENS_CTE
    + f"SELECT ({_DJB2})::BIGINT AS pid, count(*)::BIGINT AS cnt FROM toks GROUP BY 1",
    "mr_wordcount": _TOKENS_CTE
    + "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token",
    "heavy_hitters": _TOKENS_CTE
    + (
        f"SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token "
        f"HAVING count(*) * {HH_K} > (SELECT count(*) FROM toks)"
    ),
    "schema_evolution_scan": _SCHEMA_EVO,
    "manifest_schema_evolution": _SCHEMA_EVO,
    "manifest_zone_map_scan": _MANIFEST_ZM,
    "custom_sink_roundtrip": _SINK_RT,
    "manifest_time_travel": _MANIFEST_TT,
    "manifest_vacuum_roundtrip": _MANIFEST_VACUUM,
    "tpch_refresh_roundtrip": _TPCH_REFRESH,
    "partition_evolution_roundtrip": _PART_EVO_SQL,
    "masked_customer_view": _MASKED_VIEW_SQL,
    "k_anonymity_audit": _K_ANON_SQL,
    "l_diversity_audit": _L_DIV_SQL,
    "safe_release_view": _SAFE_RELEASE_SQL,
    "t_closeness_audit": _T_CLOSE_SQL,
    "multi_table_commit_roundtrip": _MULTI_TABLE_SQL,
    "indexed_token_lookup": _IDX_LOOKUP,
    "manifest_delete_rows": _MANIFEST_DEL,
    "manifest_merge_upsert": _MANIFEST_MERGE,
    "manifest_delete_dv": _MANIFEST_DV,
    "manifest_restore": _MANIFEST_RESTORE,
    "manifest_bloom_point": _MANIFEST_BLOOM,
    "concurrent_writers_conflict": _CONCURRENT_WRITERS,
    "cdf_incremental_rollup": _CDF_IVM,
    "manifest_optimize_compact": _MANIFEST_OPTIMIZE,
    "manifest_history_audit": _MANIFEST_HISTORY,
    "manifest_shallow_clone": _MANIFEST_CLONE,
    "manifest_integrity_audit": _MANIFEST_INTEGRITY,
    "manifest_changes_cdc": _MANIFEST_CDC,
    "dynamic_partition_overwrite": _DYN_OVERWRITE,
    "file_metadata_scan": _FILE_META,
    "linescan_pushdown_grep": _LINESCAN_GREP,
    "json_corrupt_records": _JSON_CORRUPT,
    "corrupt_tolerant_scan": _CORRUPT_SCAN,
    "linescan_wordcount": _TOKENS_CTE
    + "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token",
    "upsert_roundtrip": (
        "SELECT cust_key, order_key, total_price FROM ("
        "  SELECT o_custkey AS cust_key, o_orderkey AS order_key,"
        "         o_totalprice AS total_price,"
        "         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn"
        "  FROM orders) WHERE rn = 1"
    ),
}
