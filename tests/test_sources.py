"""Sources & sinks: reference IO surface (file-list text source,
upsert sink, point lookup) plus format round-trips."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark import sources as src
from cs537_spring2021_p3a_mapreduce_spark.functions.text import tokens


def test_text_lines_wordcount_like_reference(spark, tmp_path):
    # basic.txt semantics: token n appears n times (SURVEY §5)
    f = tmp_path / "basic.txt"
    f.write_text("one\ntwo two\nthree three three\nfour four four four\n")
    lines = src.text_lines(spark, str(f))
    counts = {
        r.token: r.cnt
        for r in lines.select(F.explode(tokens("line")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert counts == {"one": 1, "two": 2, "three": 3, "four": 4}


def test_text_lines_multiple_files_with_provenance(spark, tmp_path):
    (tmp_path / "a.txt").write_text("alpha\n")
    (tmp_path / "b.txt").write_text("beta\nbeta\n")
    df = src.text_lines(spark, [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")])
    rows = df.collect()
    assert len(rows) == 3
    assert {r.path.rsplit("/", 1)[-1] for r in rows} == {"a.txt", "b.txt"}


def test_csv_json_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id bigint, name string"
    )
    csv_dir, json_dir = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_dir)
    df.write.json(json_dir)
    got_csv = src.read_csv(spark, csv_dir, "id bigint, name string")
    got_json = src.read_json(spark, json_dir, "id bigint, name string")
    want = {(1, "x"), (2, "y")}
    assert {(r.id, r.name) for r in got_csv.collect()} == want
    assert {(r.id, r.name) for r in got_json.collect()} == want


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v bigint"
    )
    out = str(tmp_path / "part")
    src.write_parquet(df, out, partition_by=["k"])
    back = src.read_parquet(spark, out).filter(F.col("k") == "a")
    assert back.count() == 2
    # hive-style layout exists → partition pruning is available
    assert (tmp_path / "part" / "k=a").is_dir()


def test_upsert_keyed_parquet_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "kv")
    v1 = spark.createDataFrame(
        [("k1", "old"), ("k2", "keep")], "key string, value string"
    )
    src.upsert_keyed_parquet(spark, v1, path, ["key"])
    v2 = spark.createDataFrame([("k1", "new")], "key string, value string")
    src.upsert_keyed_parquet(spark, v2, path, ["key"])
    got = {
        (r.key, r.value) for r in spark.read.parquet(path).collect()
    }
    # MapPut overwrite semantics (hashmap.c:40-46): k1 replaced
    assert got == {("k1", "new"), ("k2", "keep")}


def test_upsert_deterministic_tiebreak_and_uri_guard(spark, tmp_path):
    """No-version_col duplicates within ONE batch must resolve to a
    deterministic winner (function of the data, not partition visit
    order), and remote URIs must fail loudly — the os.rename swap
    only works on local paths."""
    import pytest

    path = str(tmp_path / "kv")
    dup = spark.createDataFrame(
        [("k1", "b"), ("k1", "a"), ("k1", "c")], "key string, value string"
    ).repartition(3)
    src.upsert_keyed_parquet(spark, dup, path, ["key"])
    got = [(r.key, r.value) for r in spark.read.parquet(path).collect()]
    # all non-key columns desc → "c" wins, every run
    assert got == [("k1", "c")]

    with pytest.raises(ValueError, match="local paths"):
        src.upsert_keyed_parquet(spark, dup, "s3://bucket/kv", ["key"])


def test_point_lookup(spark):
    df = spark.createDataFrame(
        [("k1", 5), ("k2", 7)], "key string, cnt bigint"
    )
    assert src.point_lookup(df, "key", "k2").collect()[0].cnt == 7
    assert src.point_lookup(df, "key", "nope").count() == 0


def test_orc_round_trip_with_partition_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v bigint"
    )
    out = str(tmp_path / "orc")
    src.write_orc(df, out, partition_by=["k"])
    back = src.read_orc(spark, out).filter(F.col("k") == "a")
    assert {(r.k, r.v) for r in back.collect()} == {("a", 1), ("a", 2)}
    assert (tmp_path / "orc" / "k=a").is_dir()


def test_events_queries_run_under_vanilla_session(spark):
    """Round-1 regression class: the driver builds its OWN
    SparkSession without the repo's conf defaults; every source must
    set what it needs at read time (catalog.table sets nanosAsLong).
    newSession() shares the context but NOT runtime SQL confs — a
    faithful stand-in for an externally built session."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import relational as rel
    from cs537_spring2021_p3a_mapreduce_spark import catalog

    vanilla = spark.newSession()
    # newSession inherits builder-time defaults — drop the conf the
    # repo session sets so this really is the driver's situation
    vanilla.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    catalog._RELATION_CACHE.clear()  # don't reuse DataFrames built on the main session
    try:
        for q in (rel.window_running_sum, rel.time_bucket_events, rel.asof_purchase_attribution):
            assert q(vanilla, "/root/testdata/sf0.001").count() > 0
    finally:
        catalog._RELATION_CACHE.clear()


def test_linescan_source_one_partition_per_file(spark, tmp_path):
    """A1 contract: the file list IS the partitioning — each shard
    scans as exactly one task, and (path, line) surfaces the
    file-to-task assignment."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.linescan import (
        LineScanDataSource,
    )

    try:
        spark.dataSource.register(LineScanDataSource)
    except Exception:
        pass
    d = tmp_path / "shards"
    d.mkdir()
    for i in range(3):
        (d / f"f{i}.txt").write_text(f"alpha beta\ngamma f{i}\n")
    df = spark.read.format("mr_linescan").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 6
    # every row carries its source file; each file contributed 2 lines
    from collections import Counter

    per_file = Counter(r.path for r in rows)
    assert sorted(per_file.values()) == [2, 2, 2]
    assert {r.line for r in rows if r.path.endswith("f1.txt")} == {
        "alpha beta",
        "gamma f1",
    }


def test_linescan_source_bounded_batches(spark, tmp_path, monkeypatch):
    """A file larger than the batch bound streams through as multiple
    RecordBatches (per-task memory O(BATCH_LINES), not O(file)) with
    no rows lost or duplicated at batch boundaries."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.linescan import (
        LineScanDataSource,
        LineScanReader,
        _FilePartition,
    )

    monkeypatch.setattr(LineScanReader, "BATCH_LINES", 8)
    d = tmp_path / "big"
    d.mkdir()
    f = d / "big.txt"
    f.write_text("".join(f"line {i}\n" for i in range(21)))
    reader = LineScanReader({"path": str(d)})
    batches = list(reader.read(_FilePartition(str(f))))
    assert [b.num_rows for b in batches] == [8, 8, 5]
    # end-to-end through Spark: exact rows back, in order per file
    try:
        spark.dataSource.register(LineScanDataSource)
    except Exception:
        pass
    rows = (
        spark.read.format("mr_linescan").option("path", str(d)).load().collect()
    )
    assert sorted(r.line for r in rows) == sorted(f"line {i}" for i in range(21))


def test_scratch_dir_cleans_up_registered_paths(tmp_path):
    from cs537_spring2021_p3a_mapreduce_spark import scratch

    d = scratch.scratch_dir("graft_test_")
    extra = tmp_path / "warehouse_table"
    extra.mkdir()
    scratch.cleanup_at_exit(str(extra))
    import os

    assert os.path.isdir(d)
    scratch._cleanup()  # what atexit will run
    assert not os.path.exists(d) and not os.path.exists(extra)
    scratch._cleanup()  # idempotent: list drained, nothing re-removed


def test_eventlog_stream_reader_offset_contract(spark):
    """The custom streaming source's offset axis (full
    DataSourceStreamReader): paced deterministic batch boundaries,
    partitions(start, end) replay parity (exactly-once recovery),
    Arrow RecordBatch output (no per-row tuples), EOF offset pinned
    at the row count."""
    import pyarrow as pa

    from cs537_spring2021_p3a_mapreduce_spark.sources.eventlog_stream import (
        EventLogStreamReader,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    n_total = spark.read.parquet(path).count()
    r = EventLogStreamReader({"path": path, "batch_rows": "100"})

    def drain_range(start, end):
        ids = []
        n = 0
        for part in r.partitions(start, end):
            for batch in r.read(part) or ():
                assert isinstance(batch, pa.RecordBatch)
                ids.extend(batch.column("event_id").to_pylist())
                n += batch.num_rows
        return ids, n

    off = r.initialOffset()
    assert off == {"rank": 0}
    seen = 0
    batches = 0
    all_ids = []
    while True:
        nxt = r.latestOffset()
        if nxt == off:  # EOF: offset must stop advancing
            break
        assert nxt["rank"] - off["rank"] <= 100  # paced micro-batches
        ids, n = drain_range(off, nxt)
        # recovery path must replay the identical range
        replay_ids, replay_n = drain_range(off, nxt)
        assert replay_ids == ids and replay_n == n
        all_ids.extend(ids)
        seen += n
        batches += 1
        r.commit(nxt)
        off = nxt
    assert seen == n_total == off["rank"]
    assert batches == -(-n_total // 100)  # ceil: all batches full but the last
    # the offset axis is the event_id order — global, no overlap
    assert all_ids == sorted(all_ids) and len(set(all_ids)) == len(all_ids)


def test_manifest_sink_stray_files_invisible(spark, tmp_path):
    """Commit protocol: only files acknowledged in the manifest are
    visible; stray part files (failed/speculative attempts) are not."""
    import pandas as pd

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    df.repartition(2).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    pd.DataFrame({"k": [99], "v": ["stray"]}).to_parquet(
        f"{path}/part-deadbeef-stray.parquet", index=False
    )
    back = {(r.k, r.v) for r in read_manifest_table(spark, path).collect()}
    assert back == {(1, "a"), (2, "b"), (3, "c")}
    # the stray file IS on disk — invisibility comes from the manifest
    import glob

    assert any("stray" in f for f in glob.glob(f"{path}/part-*.parquet"))


def test_corrupt_file_fails_loudly_by_default(spark, tmp_path):
    """ignoreCorruptFiles is a per-read decision: the default read of
    a directory containing garbage bytes must THROW, not silently
    drop data — silent tolerance everywhere would hide real loss."""
    import pytest

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    with open(f"{path}/part-corrupt.parquet", "wb") as fh:
        fh.write(b"\x00garbage\x00" * 32)
    with pytest.raises(Exception):
        spark.read.parquet(path).count()
    # and the tolerant read sees exactly the healthy rows
    got = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(path).collect()
    )
    assert [(r.k, r.v) for r in got] == [(1, "a")]


def test_manifest_sink_append_preserves_prior_commits(spark, tmp_path):
    """append must carry prior committed files forward; overwrite
    must retire them from view (files stay on disk, manifest-gated)."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    spark.createDataFrame([(2, "b")], "k long, v string").write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    got = {(r.k, r.v) for r in read_manifest_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}
    spark.createDataFrame([(3, "c")], "k long, v string").write.format(
        "mr_manifest"
    ).option("path", path).mode("overwrite").save()
    got = {(r.k, r.v) for r in read_manifest_table(spark, path).collect()}
    assert got == {(3, "c")}


def test_linescan_source_tolerates_empty_file(spark, tmp_path):
    from cs537_spring2021_p3a_mapreduce_spark.sources.linescan import (
        LineScanDataSource,
    )

    try:
        spark.dataSource.register(LineScanDataSource)
    except Exception:
        pass
    d = tmp_path / "shards"
    d.mkdir()
    (d / "full.txt").write_text("alpha beta\n")
    (d / "empty.txt").write_text("")
    rows = (
        spark.read.format("mr_linescan").option("path", str(d)).load().collect()
    )
    assert {r.line for r in rows} == {"alpha beta"}


def test_upsert_crash_between_write_and_commit_keeps_old_generation(
    spark, tmp_path
):
    """Two-phase-commit upsert (VERDICT r2 #3): a writer dying AFTER
    the new generation's part files land but BEFORE the manifest
    replace must leave the table readable at the OLD generation, and
    the next successful upsert must heal (merge on top of the old
    generation, strays vacuumed).

    The crash is injected as the exact on-disk state a dead driver
    leaves — stray uniquely-named part files plus an orphaned
    .tmp manifest, live _MANIFEST untouched (commit's os.replace
    is the atomicity point; nothing before it mutates shared state,
    so state-level injection covers every pre-replace crash
    instant). In-process monkeypatching can't reach commit(): Spark 4
    runs Python DataSource driver hooks in a separate worker."""
    import json
    import os
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark.sources import (
        manifest_sink,
        read_keyed_table,
    )

    path = str(tmp_path / "kv")
    v1 = spark.createDataFrame(
        [("k1", "old"), ("k2", "keep")], "key string, value string"
    )
    src.upsert_keyed_parquet(spark, v1, path, ["key"])
    before = {(r.key, r.value) for r in read_keyed_table(spark, path).collect()}
    assert before == {("k1", "old"), ("k2", "keep")}

    # inject the post-crash layout: the would-be new generation's part
    # files (written, never acknowledged by a manifest) + a torn tmp
    v2 = spark.createDataFrame([("k1", "new")], "key string, value string")
    stray = os.path.join(path, f"part-{uuid.uuid4().hex}.parquet")
    v2.toPandas().to_parquet(stray, index=False)
    with open(
        os.path.join(path, f".{manifest_sink.MANIFEST}.{uuid.uuid4().hex}.tmp"),
        "w",
        encoding="utf-8",
    ) as fh:
        fh.write('{"files": [')  # torn mid-write

    # old generation intact; the crashed generation's files invisible
    after_crash = {(r.key, r.value) for r in read_keyed_table(spark, path).collect()}
    assert after_crash == before

    # healing: the next upsert merges onto the committed state and
    # vacuums every unreferenced stray
    src.upsert_keyed_parquet(spark, v2, path, ["key"])
    healed = {(r.key, r.value) for r in read_keyed_table(spark, path).collect()}
    assert healed == {("k1", "new"), ("k2", "keep")}
    import json
    import os

    with open(os.path.join(path, manifest_sink.MANIFEST), encoding="utf-8") as fh:
        live = {f["file"] for f in json.load(fh)["files"]}
    on_disk = {n for n in os.listdir(path) if n.endswith(".parquet")}
    assert on_disk == live
    # plain directory scans agree after vacuum (back-compat read path)
    assert {
        (r.key, r.value) for r in spark.read.parquet(path).collect()
    } == healed


def test_manifest_commit_lock_serializes_and_breaks_stale(tmp_path, monkeypatch):
    """commit()'s append path is a manifest read-modify-write; the
    exclusive lock makes it safe under a concurrent committer. A held
    lock times out a second committer; an orphaned lock (crashed
    driver, mtime past the stale horizon) is broken and acquired."""
    import os
    import time

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources import manifest_sink

    d = str(tmp_path)
    lock = os.path.join(d, f".{manifest_sink.MANIFEST}.lock")

    with manifest_sink._commit_lock(d):
        assert os.path.exists(lock)
        monkeypatch.setattr(manifest_sink, "_LOCK_TIMEOUT_S", 0.2)
        with pytest.raises(TimeoutError, match="commit lock busy"):
            with manifest_sink._commit_lock(d):
                pass
    assert not os.path.exists(lock)

    # orphaned lock: old mtime → broken and re-acquired immediately
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write("dead-pid")
    old = time.time() - manifest_sink._LOCK_STALE_S - 5
    os.utime(lock, (old, old))
    with manifest_sink._commit_lock(d):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_manifest_sink_concurrent_appends_both_visible(spark, tmp_path):
    """The commit lock must serialize the append path's manifest
    read-merge-replace: two appends racing from separate threads may
    interleave their writes, but BOTH jobs' rows end up visible (a
    lost-update would drop one batch's files from the manifest).

    Each thread must restore the JVM-side ACTIVE session first:
    Python data-source lookup reads the JVM's thread-local active
    session, and a Python thread maps to a fresh JVM thread that
    has none — every save fails DATA_SOURCE_NOT_FOUND otherwise
    (InheritableThread does not propagate it either; measured)."""
    import threading

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    errs = []

    def writer(lo: int):
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            (
                spark.range(lo, lo + 500)
                .selectExpr("id AS k")
                .write.format("mr_manifest")
                .option("path", path)
                .mode("append")
                .save()
            )
        except Exception as e:  # surfaced after join
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i * 1000,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(r.k for r in read_manifest_table(spark, path).collect())
    want = sorted(k for i in range(4) for k in range(i * 1000, i * 1000 + 500))
    assert got == want


def test_cli_wordcount_matches_reference_client(tmp_path):
    """python -m <pkg> wordcount f1 f2 — the reference's shell
    surface (main.c argv files), global token order (A14)."""
    import subprocess
    import sys

    a = tmp_path / "a.txt"
    a.write_text("one\ntwo two\nthree three three\n")
    out = subprocess.run(
        [sys.executable, "-m", "cs537_spring2021_p3a_mapreduce_spark",
         "wordcount", str(a)],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert out.stdout.splitlines() == ["one\t1", "three\t3", "two\t2"]


def test_vacuum_reclaims_unreferenced_generations(spark, tmp_path):
    """Vacuum completes the time-travel lifecycle: retained
    generations stay readable, older snapshots and their orphaned
    files are physically gone, the live view is untouched, and a
    stray uncommitted part file is reclaimed too."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        read_manifest_table,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    for gen in range(3):  # 3 overwrite generations: only g3 is live
        (
            spark.range(gen * 10, gen * 10 + 10)
            .selectExpr("id AS k")
            .write.format("mr_manifest")
            .option("path", path)
            .mode("overwrite")
            .save()
        )
    (tmp_path / "t" / "part-stray.parquet").write_bytes(b"junk")
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    deleted = vacuum_manifest_table(path, keep_generations=1)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert deleted and n_after < n_before
    # live view intact; retained snapshot readable; old gen gone
    assert {r.k for r in read_manifest_table(spark, path).collect()} == set(
        range(20, 30)
    )
    assert {r.k for r in read_manifest_table(spark, path, as_of=3).collect()} == set(
        range(20, 30)
    )
    import pytest

    with pytest.raises(FileNotFoundError):
        read_manifest_table(spark, path, as_of=1)


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """Copy-on-write DELETE: files without matches carry into the
    new generation BY NAME (zero bytes moved); only hit files are
    rewritten, and the prior generation still shows deleted rows."""
    import json
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "hot" if i < 100 else "cold") for i in range(1000)], "k long, tag string"
    ).repartitionByRange(4, "k")  # k-clustered: 'hot' (k<100) isolated

    df.write.format("mr_manifest").option("path", path).mode("append").save()

    def files():
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            return {e["file"] for e in json.load(fh)["files"]}

    before = files()
    n_rewritten = delete_where(spark, path, "tag = 'hot'")
    after = files()
    # the cold files survive by reference; at least one file rewrote
    assert before & after, "untouched files must carry over by name"
    assert n_rewritten >= 1 and before != after
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert got == set(range(100, 1000))
    # time travel: generation 1 still has everything
    g1 = {r.k for r in read_manifest_table(spark, path, as_of=1).collect()}
    assert g1 == set(range(1000))


def test_optimistic_txn_disjoint_rebases_overlap_aborts(spark, tmp_path):
    """Optimistic concurrent-writer contract (commit_transaction):
    file-disjoint transactions on the same base both land (the later
    one REBASES onto the earlier's listing), overlapping rewrites of
    the same file ABORT the second committer, an intervening blind
    APPEND is carried through a rebase (the lost-update delete_where
    used to have), and an intervening OVERWRITE aborts everything
    based on the replaced listing."""
    import json
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
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
    path = str(tmp_path / "t")
    mk = lambda lo, hi, tag: spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "k long, tag string"
    ).coalesce(1)
    # two single-file slices: a (k<100), b (k>=100)
    mk(0, 100, "a").write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    mk(100, 200, "b").write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()

    # DISJOINT: A rewrites slice a, B rewrites slice b, same base
    txn_a = plan_delete(spark, path, "tag = 'a' AND k % 2 = 1")
    txn_b = plan_delete(spark, path, "tag = 'b' AND k % 2 = 0")
    assert txn_a["base_generation"] == txn_b["base_generation"] == 2
    commit_transaction(path, txn_b)
    gen_a = commit_transaction(path, txn_a)  # disjoint → rebase
    assert gen_a == 4
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert got == {k for k in range(100) if k % 2 == 0} | {
        k for k in range(100, 200) if k % 2 == 1
    }, "B's delete must survive A's rebase and vice versa"

    # APPEND lands between plan and commit: rebase carries its file
    txn_c = plan_delete(spark, path, "tag = 'a' AND k % 4 = 0")
    mk(200, 210, "c").write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    commit_transaction(path, txn_c)
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert set(range(200, 210)) <= got, "concurrent append was clobbered"
    assert not any(k % 4 == 0 for k in got if k < 100)

    # OVERLAPPING: D and E both rewrite the current slice-a file
    txn_d = plan_delete(spark, path, "tag = 'a' AND k % 3 = 0")
    txn_e = plan_delete(spark, path, "tag = 'a' AND k % 5 = 0")
    commit_transaction(path, txn_d)
    with pytest.raises(ConcurrentWriteConflictError) as ei:
        commit_transaction(path, txn_e)
    assert ei.value.overlap, "conflict must name the contested file(s)"
    abort_transaction(path, txn_e)
    assert all(
        not os.path.exists(os.path.join(path, e["file"]))
        for e in txn_e["add_entries"]
    ), "aborted txn must leave no staged files after cleanup"
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert any(k % 5 == 0 for k in got if k < 100 and k % 2 == 0), (
        "E's delete must NOT have applied"
    )

    # OVERWRITE supersedes any transaction based on the old listing
    txn_f = plan_delete(spark, path, "tag = 'b' AND k % 7 = 0")
    mk(0, 10, "z").write.format("mr_manifest").option("path", path).mode(
        "overwrite"
    ).save()
    with pytest.raises(ConcurrentWriteConflictError):
        commit_transaction(path, txn_f)
    abort_transaction(path, txn_f)

    # committed docs record op + base generation for auditability
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        doc = json.load(fh)
    assert doc["op"] == "overwrite"


def test_merge_upsert_file_scoped_and_optimistic(spark, tmp_path):
    """Keyed MERGE: only files containing matched keys are rewritten
    (cold file carries by name), update rows win per key, inserts
    appear, and two merges that rewrite the SAME file conflict —
    second committer aborts cleanly."""
    import json
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        abort_transaction,
        commit_transaction,
        merge_upsert,
        plan_merge,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "hot" if i < 100 else "cold", i * 1.0) for i in range(1000)],
        "k long, tag string, v double",
    ).repartitionByRange(4, "k")
    df.write.format("mr_manifest").option("path", path).mode("append").save()

    def files():
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            return {e["file"] for e in json.load(fh)["files"]}

    before = files()
    updates = spark.createDataFrame(
        [(5, "hot", 555.0), (2000, "new", 1.0)], "k long, tag string, v double"
    )
    n_rewritten = merge_upsert(spark, path, updates, ["k"])
    after = files()
    assert n_rewritten == 1  # only the hot file contained k=5
    assert before & after, "cold files must carry over by name"
    got = {r.k: (r.tag, r.v) for r in read_manifest_table(spark, path).collect()}
    assert got[5] == ("hot", 555.0)  # update won
    assert got[2000] == ("new", 1.0)  # insert landed
    assert len(got) == 1001 and got[6] == ("hot", 6.0)

    # overlapping merges: both rewrite the (new) file holding k=7
    u1 = spark.createDataFrame([(7, "hot", 7.7)], "k long, tag string, v double")
    u2 = spark.createDataFrame([(7, "hot", 8.8)], "k long, tag string, v double")
    t1 = plan_merge(spark, path, u1, ["k"])
    t2 = plan_merge(spark, path, u2, ["k"])
    commit_transaction(path, t1)
    with pytest.raises(ConcurrentWriteConflictError):
        commit_transaction(path, t2)
    abort_transaction(path, t2)
    got = {r.k: r.v for r in read_manifest_table(spark, path).collect()}
    assert got[7] == 7.7  # first committer's value stands


def test_merge_and_delete_stage_one_write_without_count(
    spark, tmp_path, monkeypatch
):
    """Job shape of the copy-on-write commits: ``plan_merge`` and
    ``plan_delete`` each run ONE parquet write (the survivors of every
    hit file, plus the update rows for a merge) and no ``count()``,
    and leave no tracked cache behind; the staged entries' footer row
    counts add up to the live rows the commit adds, and the committed
    table is last-write-wins."""
    import json
    import os

    from pyspark.sql import DataFrameWriter

    from cs537_spring2021_p3a_mapreduce_spark import session
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        commit_transaction,
        plan_delete,
        plan_merge,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass

    def three_slices(name):
        path = str(tmp_path / name)
        for lo in (0, 100, 200):  # one single-file slice per append
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 100)], "k long, v string"
            ).coalesce(1).write.format("mr_manifest").option(
                "path", path
            ).mode("append").save()
        return path

    def rows(path):
        return {r.k: r.v for r in read_manifest_table(spark, path).collect()}

    def listed_rows(path, files):
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            entries = json.load(fh)["files"]
        return sum(e["n_rows"] for e in entries if e["file"] in files)

    merge_path, delete_path = three_slices("m"), three_slices("d")
    updates = spark.createDataFrame(
        [(5, "u5"), (250, "u250"), (1000, "ins")], "k long, v string"
    )
    writes = []
    real_parquet = DataFrameWriter.parquet

    def counted_parquet(self, *args, **kwargs):
        writes.append(args)
        return real_parquet(self, *args, **kwargs)

    def no_count(self):
        raise AssertionError("count() job in a copy-on-write commit")

    monkeypatch.setattr(DataFrameWriter, "parquet", counted_parquet)
    # the classic DataFrame overrides count(): patch the concrete class
    monkeypatch.setattr(type(updates), "count", no_count)

    for path, plan, want in (
        (merge_path, lambda p: plan_merge(spark, p, updates, ["k"]),
         {**{k: f"v{k}" for k in range(300)}, 5: "u5", 250: "u250", 1000: "ins"}),
        (delete_path, lambda p: plan_delete(spark, p, "k IN (7, 107, 207) AND k < 200"),
         {k: f"v{k}" for k in range(300) if k not in (7, 107)}),
    ):
        before = len(rows(path))
        tracked = len(session._TRACKED_PERSISTS)
        del writes[:]
        txn = plan(path)
        assert len(writes) == 1
        # the call's own caches are released, and forgotten, on return
        assert len(session._TRACKED_PERSISTS) == tracked
        assert len(txn["remove_files"]) == 2  # two of the three slices hit
        kept = before - listed_rows(path, txn["remove_files"])
        commit_transaction(path, txn)
        got = rows(path)
        assert sum(e["n_rows"] for e in txn["add_entries"]) == len(got) - kept
        assert got == want


def test_delete_across_schema_generations_keeps_new_columns(spark, tmp_path):
    """One rewrite job reads every hit file at once, so their footers'
    schemas must be MERGED: a delete hitting a file from before an
    additive column change and one from after keeps the new column's
    values (older rows read NULL) instead of taking one file's schema
    for both."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "old") for i in range(10)], "k long, v string"
    ).coalesce(1).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    spark.createDataFrame(
        [(i, "new", i * 10) for i in range(10, 20)], "k long, v string, w long"
    ).coalesce(1).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    assert delete_where(spark, path, "k % 5 = 0") == 2
    got = {
        r.k: (r.v, r.w)
        for r in read_manifest_table(spark, path, merge_schema=True).collect()
    }
    assert got == {
        **{i: ("old", None) for i in range(10) if i % 5},
        **{i: ("new", i * 10) for i in range(10, 20) if i % 5},
    }


def test_stream_epoch_bookkeeping_survives_commits(spark, tmp_path):
    """Exactly-once epochs: a committed merge records its writer's
    epoch; the epoch map is carried forward by LATER transactions,
    blind appends, and rebases, so a replayed epoch is detectable no
    matter what landed in between; two writers' epochs coexist."""
    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        commit_transaction,
        create_manifest_table,
        last_stream_epoch,
        plan_merge,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    create_manifest_table(path)
    assert last_stream_epoch(path, "app_a") == -1

    def merge(rows, app, epoch):
        upd = spark.createDataFrame(rows, "k long, v long")
        txn = plan_merge(spark, path, upd, ["k"])
        txn["epochs"] = {app: epoch}
        commit_transaction(path, txn)

    merge([(1, 10), (2, 20)], "app_a", 0)
    merge([(2, 21), (3, 30)], "app_a", 1)
    assert last_stream_epoch(path, "app_a") == 1
    # a second writer's epochs coexist without clobbering the first
    merge([(9, 90)], "app_b", 5)
    assert last_stream_epoch(path, "app_a") == 1
    assert last_stream_epoch(path, "app_b") == 5
    # a blind batch APPEND carries the epoch map forward
    spark.createDataFrame([(100, 0)], "k long, v long").write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    assert last_stream_epoch(path, "app_a") == 1
    # replayed epoch is detectable (the caller's skip contract)
    assert 1 <= last_stream_epoch(path, "app_a")
    got = {r.k: r.v for r in read_manifest_table(spark, path).collect()}
    assert got == {1: 10, 2: 21, 3: 30, 9: 90, 100: 0}


def test_dynamic_overwrite_touches_only_written_partitions(spark):
    """The non-error partitions must come back byte-identical after
    the dynamic-mode rewrite of the error partition."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        dynamic_partition_overwrite,
    )
    from pyspark.sql import functions as F

    out = {r.event_type: r for r in
           dynamic_partition_overwrite(spark, "/root/testdata/sf0.001").collect()}
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 1000).cast("long")).alias("s"))
        .collect()
    }
    for et, (n, s) in base.items():
        if et == "error":
            assert out[et].n_rows < n  # median cut strictly shrinks it
        else:
            assert (out[et].n_rows, out[et].sum_value_milli) == (n, s)


def test_file_metadata_sizes_match_disk(spark, tmp_path):
    """_metadata.file_size must be the actual on-disk bytes of each
    part file (per-row provenance is only useful if it's true)."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(1000).repartition(3).write.parquet(path)
    per_file = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_name").alias("name"),
            F.col("_metadata.file_size").alias("size"),
        )
        .distinct()
        .collect()
    )
    disk = {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    assert {r.name: r.size for r in per_file} == disk
    assert len(disk) == 3


def test_file_metadata_scan_layout(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        META_N_FILES,
        file_metadata_scan,
    )

    row = file_metadata_scan(spark, "/root/testdata/sf0.001").first()
    assert row.n_files == META_N_FILES
    assert row.n_rows == 500 and row.every_file_nonempty


def test_linescan_pushfilters_absorbs_only_contains(tmp_path):
    from pyspark.sql.datasource import EqualTo, StringContains

    from cs537_spring2021_p3a_mapreduce_spark.sources.linescan import (
        LineScanReader,
    )

    r = LineScanReader({"path": str(tmp_path)})
    keep = r.pushFilters(
        [StringContains(("line",), "xyz"), EqualTo(("path",), "p")]
    )
    # contains-on-line absorbed; anything else returned to Spark
    assert [type(f).__name__ for f in keep] == ["EqualTo"]
    assert r.needles == ["xyz"]


def test_linescan_pushdown_reaches_scan(spark):
    """The contains predicate must reach the source scan as a pushed
    filter (Spark still re-checks it post-scan — its conservative
    default for Python sources — but the source-side grep is what
    cuts the Arrow/IPC volume), and results must equal the unpushed
    path."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        GREP_NEEDLE,
        linescan_pushdown_grep,
    )

    df = linescan_pushdown_grep(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert f"StringContains(line,{GREP_NEEDLE})" in plan  # in PushedFilters
    row = df.first()
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = docs.where(F.col("text").contains(GREP_NEEDLE)).count()
    assert row.n_lines == want > 0


def test_stream_sink_epoch_commit_is_idempotent(tmp_path):
    """The exactly-once contract: a RETRIED micro-batch (same
    batchId, new attempt files) publishes nothing — the retry's
    files are discarded and readers see the first attempt's rows
    only. Abort removes spill files entirely."""
    import json
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.stream_sink import (
        EpochFileStreamWriter,
        _FileMessage,
        committed_files,
    )

    d = str(tmp_path / "sink")
    os.makedirs(d)
    w = EpochFileStreamWriter({"path": d}, ["a"])

    def spill(val):
        name = f"part-{val}.jsonl"
        with open(os.path.join(d, name), "w") as fh:
            fh.write(json.dumps({"a": val}) + "\n")
        return _FileMessage(name, 1)

    # first attempt of batch 0 publishes
    m1 = spill("first")
    w.commit([m1], 0)
    assert [os.path.basename(p) for p in committed_files(d)] == ["part-first.jsonl"]
    # RETRY of batch 0 with a new file: nothing new published, the
    # retry file is deleted from disk
    m2 = spill("retry")
    w.commit([m2], 0)
    assert [os.path.basename(p) for p in committed_files(d)] == ["part-first.jsonl"]
    assert not os.path.exists(os.path.join(d, "part-retry.jsonl"))
    # a NEW batchId publishes normally
    m3 = spill("second")
    w.commit([m3], 1)
    assert sorted(os.path.basename(p) for p in committed_files(d)) == [
        "part-first.jsonl",
        "part-second.jsonl",
    ]
    # abort removes its attempt's spill files
    m4 = spill("aborted")
    w.abort([m4], 2)
    assert not os.path.exists(os.path.join(d, "part-aborted.jsonl"))
    assert len(committed_files(d)) == 2


def test_manifest_lock_heartbeat_protects_slow_committer(tmp_path, monkeypatch):
    """A LIVE committer slower than the stale horizon must NOT have
    its lock broken: the holder's heartbeat refreshes the lock mtime,
    so a contender sees it as fresh and times out (or waits) instead
    of stealing. With the horizon shrunk to 0.4 s and the holder
    sleeping 1.2 s (3x), a steal would show as the contender
    acquiring mid-hold."""
    import os
    import threading
    import time

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources import manifest_sink

    monkeypatch.setattr(manifest_sink, "_LOCK_STALE_S", 0.4)
    monkeypatch.setattr(manifest_sink, "_LOCK_TIMEOUT_S", 1.0)
    d = str(tmp_path)
    lock = os.path.join(d, f".{manifest_sink.MANIFEST}.lock")
    released = threading.Event()
    holder_done: list[bool] = []

    def hold():
        with manifest_sink._commit_lock(d):
            time.sleep(1.2)  # 3x the stale horizon, heartbeat running
            holder_done.append(os.path.exists(lock))
        released.set()

    t = threading.Thread(target=hold)
    t.start()
    time.sleep(0.15)  # let the holder acquire
    # the contender's 1.0 s timeout expires INSIDE the 1.2 s hold: it
    # must time out rather than break the heartbeat-fresh lock
    with pytest.raises(TimeoutError, match="commit lock busy"):
        with manifest_sink._commit_lock(d):
            pass
    t.join()
    # the holder kept its lock through the whole critical section
    assert holder_done == [True]
    assert released.is_set()
    assert not os.path.exists(lock)


def test_manifest_sink_remote_uri_guard(tmp_path):
    """Local-FS atomics (O_EXCL lock, os.replace publish) don't exist
    on object stores; the sink, delete, and vacuum entries must fail
    loudly on a remote URI, naming the conditional-PUT seam."""
    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources import manifest_sink

    with pytest.raises(NotImplementedError, match="conditional-PUT"):
        manifest_sink.ManifestParquetWriter({"path": "s3://bucket/tbl"}, None)
    with pytest.raises(NotImplementedError, match="conditional-PUT"):
        manifest_sink.delete_where(None, "s3://bucket/tbl", "1=1")
    with pytest.raises(NotImplementedError, match="conditional-PUT"):
        manifest_sink.vacuum_manifest_table("gs://bucket/tbl")
    # file: and plain local paths still pass the guard
    manifest_sink._require_local(str(tmp_path), "test")
    manifest_sink._require_local(f"file:{tmp_path}", "test")


def test_stream_sink_missing_committed_file_raises(tmp_path):
    """A published epoch whose part file vanished is data loss, not an
    orphan — committed_files must refuse to serve the partial table."""
    import json
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.stream_sink import (
        EpochFileStreamWriter,
        _FileMessage,
        committed_files,
    )

    d = str(tmp_path / "sink")
    os.makedirs(d)
    w = EpochFileStreamWriter({"path": d}, ["a"])
    name = "part-x.jsonl"
    with open(os.path.join(d, name), "w") as fh:
        fh.write(json.dumps({"a": 1}) + "\n")
    w.commit([_FileMessage(name, 1)], 0)
    assert [os.path.basename(p) for p in committed_files(d)] == [name]
    os.remove(os.path.join(d, name))  # simulate lost committed data
    with pytest.raises(FileNotFoundError, match="committed data is missing"):
        committed_files(d)


def test_manifest_zone_maps_prune_and_stay_conservative(spark, tmp_path):
    """Committed per-file min/max stats must (a) skip non-overlapping
    files, (b) conservatively INCLUDE files lacking stats — pruning
    is an optimization, never a correctness filter."""
    import json
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        zone_map_files,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    d = str(tmp_path / "zm")
    spark.range(0, 100).repartition(1).write.format("mr_manifest").option(
        "path", d
    ).mode("append").save()
    spark.range(100, 200).repartition(1).write.format("mr_manifest").option(
        "path", d
    ).mode("append").save()
    kept, total = zone_map_files(d, "id", 150, 160)
    assert total == 2 and len(kept) == 1
    # strip one file's stats: it must be included for ANY range
    with open(os.path.join(d, MANIFEST), encoding="utf-8") as fh:
        doc = json.load(fh)
    doc["files"][0]["stats"] = {}
    with open(os.path.join(d, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    kept2, _ = zone_map_files(d, "id", 150, 160)
    assert len(kept2) == 2


def test_zone_map_scan_prunes_on_fixture_types(spark):
    """End-to-end pruning on the REAL fixture's column types
    (o_orderkey int64 / o_totalprice double through the sink's Arrow
    path): the second-quarter predicate must open exactly 1 of 4
    committed files. Pins that the r5 TypeError→conservative-include
    fallback in ``zone_map_files`` never fires on typed numeric
    bounds — a silent fallback here would read as a 4/4 'pass' and
    exactly double the scan (the r5 bench-regression hypothesis this
    test exists to rule out)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        manifest_zone_map_scan,
    )

    row = manifest_zone_map_scan(spark, "/root/testdata/sf0.001").first()
    assert row.n_files_total == 4
    assert row.n_files_opened == 1
    assert row.n_orders > 0


def test_conditional_put_commit_protocol_cas_semantics():
    """The object-store commit seam, exercised against the in-memory
    CAS double: concurrent appends never lose an update (the retry
    loop re-merges), overwrite replaces the listing, and the
    primitives enforce real etag semantics."""
    import threading

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.objectstore import (
        MemoryObjectStore,
        PreconditionFailed,
        commit_files_conditional_put,
        read_committed_files,
    )

    store = MemoryObjectStore()
    # primitive semantics
    etag = store.put_if_absent("k", b"v1")
    with pytest.raises(PreconditionFailed):
        store.put_if_absent("k", b"v2")
    with pytest.raises(PreconditionFailed):
        store.put_if_match("k", b"v2", "wrong-etag")
    etag2 = store.put_if_match("k", b"v2", etag)
    assert etag2 != etag

    # 8 concurrent appends of 1 file each -> all 8 visible
    def append(i: int) -> None:
        commit_files_conditional_put(
            store, [{"file": f"part-{i}.parquet", "n_rows": i}]
        )

    threads = [threading.Thread(target=append, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    names = {f["file"] for f in read_committed_files(store)}
    assert names == {f"part-{i}.parquet" for i in range(8)}

    # overwrite retires the listing
    gen = commit_files_conditional_put(
        store, [{"file": "part-final.parquet", "n_rows": 1}], overwrite=True
    )
    assert gen == 9
    assert [f["file"] for f in read_committed_files(store)] == [
        "part-final.parquet"
    ]


def test_partition_evolution_prunes_both_layouts(spark):
    """The hybrid read prunes on each layout's own keys: a v1 filter
    prunes by event_type; a v2 filter prunes by (event_type, hr) —
    partition evolution must not cost old data its pruning."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators import (
        mapreduce_core as mc,
    )

    # run the roundtrip (writes the two layouts), then re-derive the
    # scratch dirs from the registered query's own writes by writing
    # fresh ones here
    import tempfile

    from pyspark.sql import functions as F

    from cs537_spring2021_p3a_mapreduce_spark.catalog import table

    base = tempfile.mkdtemp(prefix="pe_t_")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", F.hour("ts").alias("hr")
    )
    ev.where(F.col("event_id") % 2 == 0).write.partitionBy("event_type").parquet(v1)
    ev.where(F.col("event_id") % 2 == 1).write.partitionBy(
        "event_type", "hr"
    ).parquet(v2)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    p1 = plan(spark.read.parquet(v1).where("event_type = 'click'"))
    assert "PartitionFilters: [isnotnull(event_type" in p1
    p2 = plan(
        spark.read.parquet(v2).where("event_type = 'click' AND hr = 3")
    )
    assert "isnotnull(hr" in p2  # finer key prunes on the new layout
    # and the registered roundtrip is exact end-to-end
    rows = mc.partition_evolution_roundtrip(
        spark, "/root/testdata/sf0.001"
    ).collect()
    raw = table(spark, "/root/testdata/sf0.001", "events").collect()
    want = {}
    for r in raw:
        c = round(r.value * 100)
        n, s = want.get(r.event_type, (0, 0))
        want[r.event_type] = (n + 1, s + c)
    assert {(r.event_type, r.n_events, r.sum_cents) for r in rows} == {
        (k, n, s) for k, (n, s) in want.items()
    }


def test_masked_view_is_irreversible_and_filtered(spark):
    from cs537_spring2021_p3a_mapreduce_spark.catalog import table
    from cs537_spring2021_p3a_mapreduce_spark.operators import (
        mapreduce_core as mc,
    )

    sf = "/root/testdata/sf0.001"
    rows = mc.masked_customer_view(spark, sf).collect()
    raw = {r.c_custkey: r for r in table(spark, sf, "customer").collect()}
    assert rows
    for r in rows:
        assert r.c_mktsegment != "AUTOMOBILE"  # row policy enforced
        orig = raw[r.c_custkey]
        assert orig.c_name not in r.name_surrogate  # no raw PII leaks
        assert r.name_masked.startswith(orig.c_name[:9])
        assert r.name_masked.endswith(orig.c_name[-2:])
        assert "****" in r.name_masked
        # coarsened balance: truncated toward zero, within one dollar
        assert abs(r.balance_dollars - orig.c_acctbal) < 1.0


def test_k_anonymity_audit_exact_and_coarsening_monotone(spark):
    """Violations match a Python recompute, and coarsening the
    balance band (x10 wider) strictly reduces risky combos — the
    generalization knob behaves."""
    from cs537_spring2021_p3a_mapreduce_spark.catalog import table
    from cs537_spring2021_p3a_mapreduce_spark.operators import (
        mapreduce_core as mc,
    )

    sf = "/root/testdata/sf0.001"
    rows = mc.k_anonymity_audit(spark, sf).collect()
    raw = table(spark, sf, "customer").collect()

    def count_violations(band_cents):
        g = {}
        for r in raw:
            cents = round(r.c_acctbal * 100)
            # Spark DIV / DuckDB // truncate toward zero on negatives
            # (Python // floors — mirror truncation explicitly)
            band = abs(cents) // band_cents * (1 if cents >= 0 else -1)
            key = (r.c_nationkey, r.c_mktsegment, band)
            g[key] = g.get(key, 0) + 1
        return {k: n for k, n in g.items() if n < mc.K_ANON}

    want = count_violations(100_000)
    got = {
        (r.c_nationkey, r.c_mktsegment, r.balance_band): r.group_n
        for r in rows
    }
    assert got == want
    assert all(r.n_total == len(raw) for r in rows)
    assert len(count_violations(1_000_000)) < len(want)


def test_catalog_commit_atomicity_and_time_travel(spark, tmp_path):
    """Cross-table catalog protocol: staged-but-unpublished
    generations are invisible; a later publish flips both tables at
    once; old catalog versions stay readable (time travel)."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.catalog_commit import (
        publish_tables,
        read_catalog,
        read_catalog_table,
    )
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    base = str(tmp_path / "cat")

    def write(name, lo, hi):
        spark.range(lo, hi).selectExpr("id AS k").write.format(
            "mr_manifest"
        ).option("path", f"{base}/{name}").mode("append").save()

    write("a", 0, 10)
    write("b", 0, 5)
    v1 = publish_tables(base, ["a", "b"])
    assert v1["version"] == 1
    # crashed publisher: a gains a staged generation, no publish
    write("a", 10, 20)
    assert {r.k for r in read_catalog_table(spark, base, "a").collect()} == set(
        range(10)
    )  # straggler invisible
    # successful second publish flips both together
    write("b", 5, 8)
    v2 = publish_tables(base, ["a", "b"])
    assert v2["version"] == 2
    assert {r.k for r in read_catalog_table(spark, base, "a").collect()} == set(
        range(20)
    )
    assert {r.k for r in read_catalog_table(spark, base, "b").collect()} == set(
        range(8)
    )
    # catalog time travel: v1 still reads the original consistent pair
    assert {
        r.k for r in read_catalog_table(spark, base, "a", version=1).collect()
    } == set(range(10))
    assert read_catalog(base)["tables"] == {"a": 2, "b": 2}


def test_catalog_concurrent_publishers_serialize(spark, tmp_path):
    """Two publishers racing on overlapping table sets: the lock
    serializes them — both versions land, monotone, and the final
    catalog maps every table to its true latest generation."""
    import threading

    from cs537_spring2021_p3a_mapreduce_spark.sources.catalog_commit import (
        publish_tables,
        read_catalog,
    )
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    base = str(tmp_path / "cat2")
    for name in ("x", "y"):
        spark.range(0, 5).selectExpr("id AS k").write.format(
            "mr_manifest"
        ).option("path", f"{base}/{name}").mode("append").save()

    errs = []

    def pub(names):
        try:
            publish_tables(base, names)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=pub, args=(ns,))
        for ns in (["x"], ["y"], ["x", "y"], ["y", "x"])
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    doc = read_catalog(base)
    assert doc["version"] == 4  # every publish landed, serialized
    assert doc["tables"] == {"x": 1, "y": 1}


def test_manifest_cdf_stream_per_generation_diffs(spark, tmp_path):
    """The CDF streaming source: each generation drains as its own
    offset step, a copy-on-write DELETE surfaces ONLY the deleted
    rows (survivors the rewrite merely moved between files cancel in
    the multiset diff), and an append surfaces only its new rows."""
    import json
    import time

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_cdf import (
        ManifestCDFStreamSource,
    )
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        delete_where,
    )

    for cls in (ManifestParquetSink, ManifestCDFStreamSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "k long, v long"
    ).coalesce(1).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()  # gen 1
    delete_where(spark, path, "k < 3")  # gen 2: rewrite, survivors move
    spark.createDataFrame(
        [(100, 1), (101, 2)], "k long, v long"
    ).coalesce(1).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()  # gen 3

    feed = (
        spark.readStream.format("mr_manifest_cdf")
        .option("path", path)
        .option("start_gen", "1")
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("cdf_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.exception() is not None:
            raise q.exception()
        p = q.lastProgress
        if p and p["sources"]:
            end = p["sources"][0].get("endOffset")
            if isinstance(end, str):
                import ast

                try:
                    end = json.loads(end)
                except ValueError:
                    end = ast.literal_eval(end)
            if end and end.get("gen", 0) >= 3:
                q.processAllAvailable()
                break
        time.sleep(0.05)
    else:
        q.stop()
        raise TimeoutError("cdf drain stalled")
    # each generation drained as its own micro-batch (offset pacing)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2
    q.stop()
    got = [
        (r.gen, r.change_type, r.k, r.v)
        for r in spark.table("cdf_test").collect()
    ]
    # gen 2: ONLY the three deleted rows — no insert/delete noise for
    # the 7 survivors the rewrite moved into a new file
    assert sorted(t for t in got if t[0] == 2) == [
        (2, "delete", 0, 0), (2, "delete", 1, 10), (2, "delete", 2, 20)
    ]
    # gen 3: only the appended rows
    assert sorted(t for t in got if t[0] == 3) == [
        (3, "insert", 100, 1), (3, "insert", 101, 2)
    ]
    assert {t[0] for t in got} == {2, 3}


def test_optimize_compact_invisible_and_conflict_safe(spark, tmp_path):
    """OPTIMIZE: bin-packs small files to the row target (logical
    content identical, fewer files), skips 1-file bins, no-ops when
    nothing qualifies, and conflicts like any rewrite: a delete that
    rewrote a file mid-compaction aborts the compactor."""
    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        abort_transaction,
        commit_transaction,
        delete_where,
        optimize_compact,
        plan_optimize,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 7) for i in range(600)], "k long, v long"
    ).repartition(12).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    before = {r.k for r in read_manifest_table(spark, path).collect()}
    compacted, bins = optimize_compact(spark, path, 200)
    assert compacted >= 4 and 1 <= bins < compacted
    after = {r.k for r in read_manifest_table(spark, path).collect()}
    assert after == before  # logically invisible
    # second pass: everything already at/above target → no-op
    assert optimize_compact(spark, path, 200) == (0, 0)

    # conflict: a delete rewrites a small file while a compaction of
    # the same files is in flight → the compactor must abort
    spark.createDataFrame(
        [(1000 + i, 0) for i in range(40)], "k long, v long"
    ).repartition(4).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    txn = plan_optimize(spark, path, 50)
    assert txn["remove_files"]
    delete_where(spark, path, "k = 1001")  # rewrites one of those files
    with pytest.raises(ConcurrentWriteConflictError):
        commit_transaction(path, txn)
    abort_transaction(path, txn)
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert 1001 not in got and 1002 in got  # the delete's result stands


def test_shallow_clone_zero_copy_and_cow_divergence(spark, tmp_path):
    """SHALLOW CLONE: no data bytes move at clone time; reads on the
    clone serve the source's files; a delete on the clone rewrites
    into the CLONE's directory only; vacuum on the clone cannot
    touch source files; the source never changes."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        read_manifest_table,
        shallow_clone,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    spark.createDataFrame(
        [(i, "hot" if i < 50 else "cold") for i in range(200)],
        "k long, tag string",
    ).repartitionByRange(2, "k").write.format("mr_manifest").option(
        "path", src
    ).mode("append").save()
    n_ref = shallow_clone(src, dst)
    assert n_ref == 2
    assert not any(f.endswith(".parquet") for f in os.listdir(dst))
    assert read_manifest_table(spark, dst).count() == 200

    delete_where(spark, dst, "tag = 'hot'")
    # clone diverged; source intact
    assert read_manifest_table(spark, dst).count() == 150
    assert read_manifest_table(spark, src).count() == 200
    # the rewrite landed in the clone's own directory
    assert any(f.endswith(".parquet") for f in os.listdir(dst))
    src_files_before = {
        f for f in os.listdir(src) if f.endswith(".parquet")
    }
    # vacuum on the clone must not delete ANY source file (absolute
    # references are never eligible — it only inspects its own dir)
    vacuum_manifest_table(dst, keep_generations=1)
    src_files_after = {
        f for f in os.listdir(src) if f.endswith(".parquet")
    }
    assert src_files_after == src_files_before
    assert read_manifest_table(spark, src).count() == 200
    assert read_manifest_table(spark, dst).count() == 150


def test_vacuumed_snapshot_aborts_stale_transaction(spark, tmp_path):
    """Vacuum vs stale-transaction adjudication, both formats. A
    commit that RECORDS its remove actions (every commit_transaction
    since the deletion-vector round) keeps disjointness provable even
    after vacuum drops the pre-commit snapshot — the stale-but-
    disjoint transaction lands by rebase. A LEGACY intervening commit
    (no recorded removes, emulated by stripping the key) forces the
    listing-diff path, which needs the vacuumed g−1 snapshot and must
    abort conservatively rather than guess."""
    import json
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        abort_transaction,
        commit_transaction,
        delete_where,
        plan_delete,
        read_manifest_table,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    mk = lambda lo, hi, tag: spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "k long, tag string"
    ).coalesce(1)
    mk(0, 100, "a").write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    mk(100, 200, "b").write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()
    # staged-file hazard: a PARTIAL delete stages a survivor file that
    # is manifest-invisible; a vacuum racing the transaction reclaims
    # it, and the commit must abort rather than publish a torn listing
    torn = plan_delete(spark, path, "tag = 'b' AND k % 2 = 0")
    assert torn["add_entries"]  # staged a survivor file
    # whole-file txn stages NOTHING (no survivors) — immune to vacuum
    txn = plan_delete(spark, path, "tag = 'b'")
    assert not txn["add_entries"]
    # a disjoint delete lands (gen 3), then vacuum drops old snapshots
    # AND the staged survivor file (unreferenced parquet)
    delete_where(spark, path, "tag = 'a' AND k % 3 = 0")
    vacuum_manifest_table(path, keep_generations=1)
    with pytest.raises(ConcurrentWriteConflictError, match="staged"):
        commit_transaction(path, torn)
    abort_transaction(path, torn)
    # modern path: gen 3 recorded its removes, so disjointness is
    # provable without the vacuumed gen-2 snapshot → rebase lands
    gen = commit_transaction(path, txn)
    assert gen == 4
    got = {r.k for r in read_manifest_table(spark, path).collect()}
    assert not any(k % 3 == 0 for k in got if k < 100)  # delete kept
    assert not any(k >= 100 for k in got)  # whole-file txn landed

    # legacy path: strip gen 3's recorded removes to emulate a
    # pre-recording commit; a transaction stale across it must fall
    # back to the listing diff, which needs the VACUUMED gen-2
    # snapshot → conservative abort
    stale = plan_delete(spark, path, "tag = 'a' AND k % 9 = 0")
    stale["base_generation"] = 2  # stale across legacy gen 3
    snap3 = os.path.join(path, f"{MANIFEST}.g3")
    with open(snap3, encoding="utf-8") as fh:
        doc = json.load(fh)
    doc.pop("removed")
    with open(snap3, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    with pytest.raises(ConcurrentWriteConflictError, match="vacuumed"):
        commit_transaction(path, stale)
    abort_transaction(path, stale)
    assert {r.k for r in read_manifest_table(spark, path).collect()} == got


def test_deletion_vectors_merge_on_read_lifecycle(spark, tmp_path):
    """Deletion vectors: a DV delete leaves every data file
    byte-identical (merge-on-read), sidecars accumulate across two
    deletes without double-recording positions, reads apply them,
    time travel sees the pre-delete rows, purge materializes the same
    logical table with clean entries, and vacuum never reclaims a
    sidecar a retained snapshot still needs."""
    import hashlib
    import json
    import os

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ManifestParquetSink,
        delete_where_dv,
        purge_deletion_vectors,
        read_manifest_table,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 4) for i in range(400)], "k long, shard long"
    ).repartition("shard").write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()

    def digests():
        return {
            f: hashlib.sha256(
                open(os.path.join(path, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(path)
            if f.startswith("part-") and f.endswith(".parquet")
        }

    before = digests()
    n1 = delete_where_dv(spark, path, "k % 3 = 0")
    n2 = delete_where_dv(spark, path, "k % 5 = 0")
    assert n1 == len([k for k in range(400) if k % 3 == 0])
    # second delete must not re-record rows the first already deleted
    assert n2 == len([k for k in range(400) if k % 5 == 0 and k % 3 != 0])
    assert digests() == before  # merge-on-read: zero data bytes moved
    live = {r.k for r in read_manifest_table(spark, path).collect()}
    assert live == {k for k in range(400) if k % 3 != 0 and k % 5 != 0}
    # sidecars accumulated on the entries; dv_rows bookkeeping adds up
    with open(os.path.join(path, MANIFEST)) as fh:
        entries = json.load(fh)["files"]
    assert all(len(e.get("dvs", [])) >= 1 for e in entries)
    assert sum(e["dv_rows"] for e in entries) == n1 + n2
    # time travel: generation 1 predates both deletes
    g1 = {r.k for r in read_manifest_table(spark, path, as_of=1).collect()}
    assert g1 == set(range(400))
    # no-match delete: no commit, no sidecar left behind
    gen_files = set(os.listdir(path))
    assert delete_where_dv(spark, path, "k = -1") == 0
    assert set(os.listdir(path)) == gen_files
    # purge: same logical table, clean entries, rewritten files
    assert purge_deletion_vectors(spark, path) == len(entries)
    assert {r.k for r in read_manifest_table(spark, path).collect()} == live
    with open(os.path.join(path, MANIFEST)) as fh:
        clean = json.load(fh)["files"]
    assert not any(e.get("dvs") for e in clean)
    assert sum(e["n_rows"] for e in clean) == len(live)
    # purge on a clean table is a no-op
    assert purge_deletion_vectors(spark, path) == 0
    # vacuum keeping the DV'd generation must retain its sidecars...
    kept = vacuum_manifest_table(path, keep_generations=3)
    assert {r.k for r in read_manifest_table(spark, path, as_of=3).collect()
            } == live  # post-second-delete snapshot still readable
    # ...and vacuuming history away reclaims data files AND sidecars
    deleted = vacuum_manifest_table(path, keep_generations=1)
    assert any(f.startswith("dv-") for f in kept + deleted)
    assert not any(f.startswith("dv-") for f in os.listdir(path))
    assert {r.k for r in read_manifest_table(spark, path).collect()} == live


def test_deletion_vector_conflicts_and_cow_guards(spark, tmp_path):
    """DV transactions conflict like rewrites (concurrent DV deletes
    of the same file: second aborts, and the abort removes ONLY the
    staged sidecar — never live data files); copy-on-write
    delete/merge refuse a DV'd listing (raw rewrite would resurrect
    deleted rows); OPTIMIZE skips DV'd entries instead."""
    import json
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        MANIFEST,
        ConcurrentWriteConflictError,
        ManifestParquetSink,
        abort_transaction,
        commit_transaction,
        delete_where,
        merge_upsert,
        plan_delete_dv,
        plan_optimize,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 2) for i in range(100)], "k long, shard long"
    ).repartition("shard").write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()

    # two writers plan DV deletes over the same files from the same base
    txn_a = plan_delete_dv(spark, path, "k % 10 = 0")
    txn_b = plan_delete_dv(spark, path, "k % 10 = 1")
    commit_transaction(path, txn_a)
    with pytest.raises(ConcurrentWriteConflictError):
        commit_transaction(path, txn_b)
    data_before = {
        f for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    }
    abort_transaction(path, txn_b)
    data_after = {
        f for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    }
    assert data_after == data_before  # abort removed only the sidecar
    assert txn_b["staged_files"][0] not in os.listdir(path)
    live = {r.k for r in read_manifest_table(spark, path).collect()}
    assert live == {k for k in range(100) if k % 10 != 0}

    # copy-on-write ops refuse the DV'd listing instead of resurrecting
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        delete_where(spark, path, "k = 7")
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        merge_upsert(
            spark,
            path,
            spark.createDataFrame([(7, 0)], "k long, shard long"),
            ["k"],
        )
    # OPTIMIZE: DV'd entries are not compactable (raw rewrite would
    # resurrect); with every entry DV'd nothing qualifies
    with open(os.path.join(path, MANIFEST)) as fh:
        entries = json.load(fh)["files"]
    assert all(e.get("dvs") for e in entries)
    assert plan_optimize(spark, path, 10_000)["remove_files"] == []


def test_restore_table_metadata_only_and_vacuum_guard(spark, tmp_path):
    """RESTORE re-publishes an old generation as a NEW commit: the
    live view returns to the target listing with zero data bytes
    moved, the pre-restore generation still time-travels (history
    preserved), a restore across a DV delete rolls the DV state back,
    and a vacuumed target fails loudly."""
    import hashlib
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        delete_where,
        delete_where_dv,
        read_manifest_table,
        restore_table,
        vacuum_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "k long, shard long"
    ).repartition("shard").write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()  # g1
    delete_where(spark, path, "k % 2 = 0")  # g2: COW delete
    spark.createDataFrame(
        [(1000 + i, 9) for i in range(5)], "k long, shard long"
    ).coalesce(1).write.format("mr_manifest").option("path", path).mode(
        "append"
    ).save()  # g3: stray append

    def digests():
        return {
            f: hashlib.sha256(
                open(os.path.join(path, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    before = digests()
    gen = restore_table(path, 1)  # g4
    assert gen == 4
    assert digests() == before  # metadata-only: no file written/changed
    assert {r.k for r in read_manifest_table(spark, path).collect()} == set(
        range(300)
    )
    # history preserved: the broken pre-restore view still travels
    pre = {r.k for r in read_manifest_table(spark, path, as_of=3).collect()}
    assert pre == {k for k in range(300) if k % 2 != 0} | {
        1000 + i for i in range(5)
    }
    # restore across a DV delete rolls the deletion-vector state back
    delete_where_dv(spark, path, "k % 7 = 0")  # g5
    restore_table(path, 4)  # g6: listing without dvs again
    assert {r.k for r in read_manifest_table(spark, path).collect()} == set(
        range(300)
    )
    # vacuumed target snapshot → loud failure, table unchanged
    vacuum_manifest_table(path, keep_generations=1)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        restore_table(path, 3)
    assert {r.k for r in read_manifest_table(spark, path).collect()} == set(
        range(300)
    )


def test_pruned_read_applies_deletion_vectors(spark, tmp_path):
    """The zone-map-pruned read path must not resurface DV-deleted
    rows: pruning bounds FILES, DVs bound ROWS, and both apply."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        delete_where_dv,
        read_manifest_table_pruned,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i // 100) for i in range(400)], "k long, shard long"
    ).repartition("shard").write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()
    delete_where_dv(spark, path, "k % 3 = 0")
    got = {
        r.k
        for r in read_manifest_table_pruned(spark, path, "k", 0, 199)
        .where("k BETWEEN 0 AND 199")
        .collect()
    }
    assert got == {k for k in range(200) if k % 3 != 0}


def test_bloom_index_prunes_where_zone_maps_cannot(spark, tmp_path):
    """Per-file Bloom index: files clustered by shard all span the
    probe column's full range (zone maps useless), but the bloom
    prunes the point lookup to the one file actually containing the
    key; misses prune to zero files; unindexed columns stay
    conservative; the indexed read returns exactly the probed row
    and applies DVs; the index commit is metadata-only."""
    import hashlib
    import os

    import pytest

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        bloom_prune_files,
        build_bloom_index,
        delete_where_dv,
        read_manifest_table_point,
        zone_map_files,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    # 4 shard-clustered files (one append per shard — hash
    # repartitioning can collapse 4 tiny key groups into one
    # partition); k is interleaved so EVERY file spans the full key
    # range — zone maps on k cannot prune an equality probe
    base = spark.createDataFrame(
        [(i, i % 4) for i in range(4000)], "k long, shard long"
    )
    for s in range(4):
        base.where(F.col("shard") == s).coalesce(1).write.format(
            "mr_manifest"
        ).option("path", path).mode("append").save()

    def digests():
        return {
            f: hashlib.sha256(
                open(os.path.join(path, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(path)
            if f.startswith("part-") and f.endswith(".parquet")
        }

    before = digests()
    assert build_bloom_index(spark, path, "k") == 4
    assert digests() == before  # index commit is pure metadata

    zm_kept, zm_total = zone_map_files(path, "k", 1234, 1234)
    assert len(zm_kept) == zm_total == 4  # zone maps: no pruning
    bl_kept, bl_total = bloom_prune_files(spark, path, "k", "bigint", 1234)
    assert bl_total == 4 and len(bl_kept) == 1  # bloom: one candidate
    got = (
        read_manifest_table_point(spark, path, "k", "bigint", 1234)
        .where("k = 1234")
        .collect()
    )
    assert [(r.k, r.shard) for r in got] == [(1234, 1234 % 4)]
    # definitive miss: no file claims the key
    missing, _ = bloom_prune_files(spark, path, "k", "bigint", 999_999)
    assert missing == []
    with pytest.raises(ValueError, match="no committed file"):
        read_manifest_table_point(spark, path, "k", "bigint", 999_999)
    # unindexed column: conservative include-all
    cons, total = bloom_prune_files(spark, path, "shard", "bigint", 2)
    assert len(cons) == total == 4
    # DVs apply through the point-read path
    delete_where_dv(spark, path, "k = 1234")
    assert (
        read_manifest_table_point(spark, path, "k", "bigint", 1234)
        .where("k = 1234")
        .count()
        == 0
    )


def test_bloom_point_clustered_write_layout(spark, tmp_path):
    """The ``manifest_bloom_point`` write path pin: ONE hash-clustered
    append at 8 partitions must land exactly one file per order
    priority (the 5 priority strings occupy 5 distinct murmur3
    buckets at 8 — this test is the canary for that hash property),
    in a single manifest commit, with each file's o_orderpriority
    zone map collapsed to a point (min == max) — the layout the
    query's zone-map-can't-prune / bloom-prunes contrast relies on."""
    import json
    import os

    from cs537_spring2021_p3a_mapreduce_spark.catalog import table
    from cs537_spring2021_p3a_mapreduce_spark.sources import manifest_sink
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    orders = table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.repartition(8, "o_orderpriority").write.format(
        "mr_manifest"
    ).option("path", path).mode("append").save()
    with open(os.path.join(path, manifest_sink.MANIFEST), encoding="utf-8") as fh:
        man = json.load(fh)
    pris = {
        r.o_orderpriority for r in orders.select("o_orderpriority").distinct().collect()
    }
    assert len(man["files"]) == len(pris)  # one file per priority
    # single commit: every entry shares the one transaction's snapshot
    assert len({e.get("snapshot", man.get("snapshot")) for e in man["files"]}) <= 1
    got_pris = set()
    for e in man["files"]:
        lo, hi = e["stats"]["o_orderpriority"]
        assert lo == hi  # priority zone map collapsed to a point
        got_pris.add(lo)
    assert got_pris == pris


def test_bloom_point_refuses_a_mixed_priority_file(spark, monkeypatch):
    """When the hash-clustered append stops giving each priority its
    own file (here: every row forced into ONE partition), the query
    raises, naming the file, instead of returning results whose
    zone-map / bloom contrast no longer means anything."""
    import pytest
    from conftest import SF_SMOKE

    from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core

    cls = type(spark.range(1))
    real = cls.repartition
    monkeypatch.setattr(
        cls, "repartition", lambda self, *args, **kw: real(self, 1)
    )
    with pytest.raises(RuntimeError, match=r"part-.*holds priorities"):
        mapreduce_core.manifest_bloom_point(spark, SF_SMOKE)
