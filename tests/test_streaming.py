"""Structured Streaming: the streaming analogs reproduce the batch
event-time results when fed the same (finite) input — the
batch/stream parity Spark's unified model promises."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark import streaming as st
from cs537_spring2021_p3a_mapreduce_spark.catalog import table

SF_SMOKE = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark, tmp_path, events_stream_dir):
    stream = st.windowed_event_counts(st.stream_events(spark, events_stream_dir))
    # complete mode: append would withhold the final windows (the
    # watermark never passes them on a finite input)
    st.run_to_memory(stream, "win_counts", str(tmp_path / "ckpt"), "complete")
    got = {
        (r.window_start, r.event_type, r.cnt)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type, r.cnt)
        for r in (
            table(spark, SF_SMOKE, "events")
            .groupBy(
                F.window("ts", "1 hour").start.alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_session_windows_match_batch_session_count(spark, tmp_path, events_stream_dir):
    stream = st.session_event_counts(st.stream_events(spark, events_stream_dir))
    st.run_to_memory(stream, "sess_counts", str(tmp_path / "ckpt"), "complete")
    got = spark.sql("SELECT * FROM sess_counts")
    # session windows partition each user's events: totals must add up
    total_events = table(spark, SF_SMOKE, "events").count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == total_events
    # native session windows agree with the batch gaps-and-islands
    # sessionization on the NUMBER OF SESSIONS (same 30-min gap;
    # boundary semantics differ only at exactly-30:00 gaps, absent
    # from the µs-resolution fixture)
    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        session_windows,
    )

    assert got.count() == session_windows(spark, SF_SMOKE).count()


def test_streaming_wordcount_matches_batch(spark, tmp_path, documents_stream_dir):
    lines = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).parquet(documents_stream_dir)
    stream = st.streaming_wordcount(lines, "text")
    st.run_to_memory(stream, "wc_stream", str(tmp_path / "ckpt"), "complete")
    got = {
        (r.token, r.cnt)
        for r in spark.sql("SELECT * FROM wc_stream").collect()
    }
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        wordcount,
    )

    want = {(r.token, r.cnt) for r in wordcount(spark, SF_SMOKE).collect()}
    assert got == want


def test_stateful_running_user_counts(spark, tmp_path, events_stream_dir):
    stream = st.running_user_counts(st.stream_events(spark, events_stream_dir))
    st.run_to_memory(stream, "run_counts", str(tmp_path / "ckpt"), "update")
    # one availableNow drain → the last update per user is the total
    got = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM run_counts GROUP BY user_id"
    )
    want = table(spark, SF_SMOKE, "events").groupBy("user_id").count()
    diff = got.join(
        want, (got.user_id == want.user_id) & (got.n == want["count"]), "inner"
    )
    assert diff.count() == want.count()


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Late-data handling: a row older than the watermark arriving in
    a LATER micro-batch must not reopen its (already finalized)
    window. maxFilesPerTrigger=1 forces two batches; file mtimes fix
    the batch order."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = tmp_path / "late_src"
    src_dir.mkdir()

    def write(name, rows, mtime):
        t = pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["ts", "event_type"]).astype(
                {"ts": "datetime64[us]"}
            )
        )
        p = src_dir / name
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    # batch 1: two rows in the 00:00 window + one at 03:00 that
    # advances the watermark (30 min delay) to 02:30 > 01:00 close
    write(
        "0.parquet",
        [("2024-01-01 00:10:00", "x"), ("2024-01-01 00:20:00", "x"),
         ("2024-01-01 03:00:00", "x")],
        1_000,
    )
    # batch 2: on-time row; the 00:00 window state evicts + emits
    # during this batch (watermark crossing is applied at eviction,
    # so a late row in THIS batch could still merge — documented
    # best-effort semantics)
    write("1.parquet", [("2024-01-01 03:10:00", "x")], 2_000)
    # batch 3: a LATE row for the long-closed 00:00 window — state
    # is gone and window end < watermark, so it MUST drop
    write("2.parquet", [("2024-01-01 00:30:00", "x")], 3_000)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )
    st.run_to_memory(stream, "late_counts", str(tmp_path / "ckpt"), "append")
    rows = spark.sql("SELECT * FROM late_counts").collect()
    first_window = [r.cnt for r in rows if r.ws.isoformat() == "2024-01-01T00:00:00"]
    # the finalized window emitted once with the 2 on-time rows; the
    # late 00:30 row was dropped (no duplicate/updated emission)
    assert first_window == [2]


def test_streaming_upsert_sink_matches_batch_counts(spark, tmp_path, events_stream_dir):
    """Streaming running counts drained through the foreachBatch
    keyed-upsert sink: the final table holds exactly one row per
    user with the total count (last write wins across batches)."""
    out = str(tmp_path / "kv_counts")
    stream = st.running_user_counts(st.stream_events(spark, events_stream_dir))
    st.run_to_keyed_parquet(stream, out, ["user_id"], str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.n_events) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id, r["count"])
        for r in table(spark, SF_SMOKE, "events").groupBy("user_id").count().collect()
    }
    assert got == want


def test_dedup_stream_drops_duplicates_within_horizon(spark, tmp_path):
    src = tmp_path / "dedup_src"
    spark.createDataFrame(
        [
            (1, "hello world", "2024-01-01 00:00:00"),
            (2, "  HELLO WORLD  ", "2024-01-01 00:10:00"),  # dup after normalize
            (3, "something else", "2024-01-01 00:20:00"),
            (4, "hello world", "2024-01-01 00:30:00"),  # dup again
        ],
        "doc_id bigint, text string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").parquet(
        str(src)
    )
    out = st.dedup_stream(stream, st.content_key("text"), "ts", "1 hour")
    ckpt = str(tmp_path / "ckpt")
    q1 = st.run_to_memory(out, "dedup_stream_out", ckpt, "append")
    got = spark.sql("SELECT * FROM dedup_stream_out").collect()
    # exactly one survivor per normalized content key
    assert len(got) == 2
    assert {r.text.strip().lower() for r in got} == {"hello world", "something else"}
    # schema passes through minus the internal dedup key
    assert set(got[0].asDict()) == {"doc_id", "text", "ts"}

    # restart from the checkpoint under a different shuffle default:
    # the state keeps its first partitioning and still drops an
    # in-horizon resend (through foreachBatch: the memory sink
    # recovers only in complete mode)
    spark.createDataFrame(
        [
            (5, "hello world", "2024-01-01 00:40:00"),  # resend within 1 hour
            (6, "brand new doc", "2024-01-01 00:45:00"),
        ],
        "doc_id bigint, text string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.mode(
        "append"
    ).parquet(str(src))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(prev) + 3))
    try:
        resumed = []
        q2 = (
            out.writeStream.foreachBatch(lambda df, _: resumed.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drained = q2.awaitTermination(120)
        q2.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert drained
    assert [r.doc_id for r in resumed] == [6]

    def state_parts(q):
        return {p["stateOperators"][0]["numShufflePartitions"] for p in q.recentProgress}

    assert state_parts(q2) == state_parts(q1) == {int(prev)}


def test_sliding_counts_match_batch(spark, tmp_path, events_stream_dir):
    stream = st.sliding_event_counts(st.stream_events(spark, events_stream_dir))
    st.run_to_memory(stream, "slide_counts", str(tmp_path / "ckpt"), "complete")
    got = {
        (r.window_start, r.event_type, r.cnt)
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    want = {
        (r.window_start, r.event_type, r.cnt)
        for r in (
            table(spark, SF_SMOKE, "events")
            .groupBy(
                F.window("ts", "1 hour", "15 minutes").start.alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
    }
    assert got == want and len(got) > 0
    # every event lands in exactly 4 overlapping windows
    n_events = table(spark, SF_SMOKE, "events").count()
    assert sum(c for (_, _, c) in got) == 4 * n_events


def test_interval_join_matches_batch(spark, tmp_path, events_stream_dir):
    joined = st.interval_join_clicks_to_purchases(
        st.stream_events(spark, events_stream_dir).where(
            F.col("event_type") == "purchase"
        ),
        st.stream_events(spark, events_stream_dir).where(
            F.col("event_type") == "click"
        ),
    )
    st.run_to_memory(joined, "ij_out", str(tmp_path / "ckpt"), "append")
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_s)
        for r in spark.sql("SELECT * FROM ij_out").collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    want = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_s)
        for r in (
            p.join(
                c,
                (p["user_id"] == c["c_user_id"])
                & (c["c_ts"] >= p["p_ts"] - F.expr("INTERVAL 4 hours"))
                & (c["c_ts"] < p["p_ts"]),
            )
            .select(
                "purchase_id",
                "click_id",
                "user_id",
                F.expr(
                    "(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000"
                ).alias("gap_s"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_stream_static_enrichment_matches_batch(spark, tmp_path, events_stream_dir):
    cust = table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        st.stream_events(spark, events_stream_dir)
        .where(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), "user_id", "left")
        .groupBy(F.coalesce("c_mktsegment", F.lit("<unknown>")).alias("segment"))
        .agg(F.count("*").alias("n"))
    )
    st.run_to_memory(enriched, "enrich_out", str(tmp_path / "ckpt"), "complete")
    got = {(r.segment, r.n) for r in spark.sql("SELECT * FROM enrich_out").collect()}
    want = {
        (r.segment, r.n)
        for r in (
            table(spark, SF_SMOKE, "events")
            .where(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), "user_id", "left")
            .groupBy(
                F.coalesce("c_mktsegment", F.lit("<unknown>")).alias("segment")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_upsert_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch sinks replay micro-batches on recovery; the keyed
    MERGE must converge to the same table when a batch applies twice
    (the exactly-once-by-idempotence contract the sink documents)."""
    from cs537_spring2021_p3a_mapreduce_spark.sources import upsert_keyed_parquet

    path = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (1, 30, "c")],
        "k bigint, ver bigint, payload string",
    )
    upsert_keyed_parquet(spark, batch, path, key_cols=["k"], version_col="ver")
    once = {(r.k, r.ver, r.payload) for r in spark.read.parquet(path).collect()}
    # replay the identical batch (simulated retry after sink failure)
    upsert_keyed_parquet(spark, batch, path, key_cols=["k"], version_col="ver")
    twice = {(r.k, r.ver, r.payload) for r in spark.read.parquet(path).collect()}
    assert once == twice == {(1, 30, "c"), (2, 20, "b")}


def test_outer_interval_join_matches_batch_below_cutoff(spark, tmp_path):
    """Left-outer stream-stream join: everything the engine GUARANTEES
    to emit (purchases behind the batch-1 watermark) must equal the
    batch left-join on exactly that subset — matched and unmatched."""
    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        _OUTER_SPLIT,
        stream_interval_join_outer,
    )

    got = {
        tuple(r)
        for r in stream_interval_join_outer(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    cutoff = (
        ev.where(F.col("ts") < _OUTER_SPLIT)
        .agg(F.expr("max(ts) - INTERVAL 1 HOUR").alias("c"))
        .collect()[0]
        .c
    )
    p = ev.where(
        (F.col("event_type") == "purchase") & (F.col("ts") < F.lit(cutoff))
    ).select(F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    want = {
        tuple(r)
        for r in (
            p.join(
                c,
                (p["user_id"] == c["c_user_id"])
                & (c["c_ts"] >= p["p_ts"] - F.expr("INTERVAL 4 hours"))
                & (c["c_ts"] < p["p_ts"]),
                "leftOuter",
            )
            .select(
                "purchase_id",
                "click_id",
                "user_id",
                F.expr(
                    "(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000"
                ).alias("gap_s"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0
    # the outer rows are actually present (not just the inner matches)
    assert any(r[1] is None for r in got)


def test_interval_join_state_is_watermark_bounded(spark, tmp_path):
    """The stream-stream join's state metrics must show eviction:
    staged as 4 time-split batches, the state store holds roughly one
    watermark-horizon of rows — never the whole stream — and rows are
    removed on every watermark advance. This is the measured form of
    the 'runs forever on an unbounded stream' claim."""
    import glob
    import os
    import shutil

    src = tmp_path / "in"
    src.mkdir()
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    bounds = ["2024-01-08", "2024-01-16", "2024-01-24"]
    prev = None
    for i, hi in enumerate(bounds + [None]):
        col = F.col("ts")
        if prev is None:
            cond = col < hi
        elif hi is not None:
            cond = (col >= prev) & (col < hi)
        else:
            cond = col >= prev
        d = tmp_path / f"half{i}"
        raw.where(cond).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)
        prev = hi

    sch = spark.read.parquet(str(src)).schema

    def reader():
        r = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return r.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ),
        )

    j = st.interval_join_clicks_to_purchases(
        reader().where(F.col("event_type") == "purchase"),
        reader().where(F.col("event_type") == "click"),
    )
    q = (
        j.writeStream.format("memory")
        .queryName("state_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    states = [
        (p["stateOperators"][0]["numRowsTotal"], p["stateOperators"][0]["numRowsRemoved"])
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    n_events = raw.count()
    assert len(states) >= 4
    # bounded: never anywhere near the full stream
    assert max(t for t, _ in states) < n_events / 3
    # eviction actually happens once the watermark moves
    assert sum(r for _, r in states) > 0
    assert any(r > 0 for _, r in states[1:])


def test_event_time_timeout_closes_idle_sessions(spark, tmp_path):
    """State LIFECYCLE via EventTimeTimeout: sessions close exactly
    when the engine's watermark clock passes last_seen + gap — not
    on data arrival. Invariants (a user can close MORE than once: a
    post-timeout event reopens state, and availableNow's final
    cleanup batch closes whatever is idle under the terminal
    watermark): idle-at-end users close ALL their events across
    their session rows; nobody closes more than they have; users
    still active at the terminal watermark keep their open state."""
    import datetime
    import glob
    import os
    import shutil
    from collections import Counter

    from cs537_spring2021_p3a_mapreduce_spark.catalog import table as _table
    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        session_close_on_timeout,
    )

    src = tmp_path / "in"
    src.mkdir()
    raw = _table(spark, SF_SMOKE, "events")  # normalized µs TIMESTAMP ts
    split = "2024-01-16"
    for i, cond in enumerate([F.col("ts") < split, F.col("ts") >= split]):
        d = tmp_path / f"half{i}"
        raw.where(cond).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    closed = session_close_on_timeout(stream, gap_ms=30 * 60 * 1000)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            closed.writeStream.format("memory")
            .queryName("timeout_close")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = [
        (r.user_id, r.n_events)
        for r in spark.table("timeout_close").collect()
    ]
    rows = raw.collect()
    total = Counter(r.user_id for r in rows)
    last_seen: dict[int, object] = {}
    for r in rows:
        last_seen[r.user_id] = max(last_seen.get(r.user_id, r.ts), r.ts)
    final_wm = max(r.ts for r in rows) - datetime.timedelta(hours=1)
    gap = datetime.timedelta(minutes=30)

    closed_sum: Counter = Counter()
    for u, n in got:
        closed_sum[u] += n
    idle = {u for u, ts in last_seen.items() if ts + gap <= final_wm}
    assert idle, "fixture must contain idle users for the test to bite"
    for u in idle:
        assert closed_sum[u] == total[u], (u, closed_sum[u], total[u])
    for u, n in closed_sum.items():
        assert n <= total[u]
    active = {u for u, ts in last_seen.items() if ts > final_wm}
    for u in active:
        assert closed_sum[u] < total[u]


def test_tws_entry_gated_on_protobuf(spark):
    """transformWithStateInPandas needs the protobuf package for its
    state protocol; the entry must register exactly when it's
    importable (real Spark 4 deployments ship it; this container
    doesn't — the gate keeps the driver contract runnable in both)."""
    from cs537_spring2021_p3a_mapreduce_spark import streaming as st

    assert ("stream_tws_user_totals" in st.QUERIES) == st.tws_available()
    assert ("stream_tws_user_totals" in st.ORACLES) == st.tws_available()


def test_tws_running_totals_match_batch(spark, tmp_path):
    from cs537_spring2021_p3a_mapreduce_spark import streaming as st

    if not st.tws_available():
        pytest.skip("protobuf not installed: transformWithState "
                    "state protocol unavailable in this container")
    out = st.stream_tws_user_totals(spark, SF_SMOKE)
    got = {(r.user_id, r.n_events, r.sum_cents) for r in out.collect()}
    from cs537_spring2021_p3a_mapreduce_spark.catalog import table as _table

    want = {
        (r.user_id, r.n, r.c)
        for r in _table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == want


def test_stream_topk_matches_batch_topk(spark):
    from cs537_spring2021_p3a_mapreduce_spark import streaming as strm
    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        wordcount,
    )

    sf = "/root/testdata/sf0.001"
    got = strm.stream_topk_words(spark, sf).collect()
    assert len(got) == strm.STREAM_TOPK
    counts = [r.cnt for r in got]
    assert counts == sorted(counts, reverse=True)
    batch = wordcount(spark, sf).collect()
    want = sorted(batch, key=lambda r: (-r.cnt, r.token))[: strm.STREAM_TOPK]
    assert {(r.token, r.cnt) for r in got} == {(r.token, r.cnt) for r in want}


def test_pattern_match_batch_split_invariant(spark, tmp_path):
    """Streaming CEP's defining claim: the final per-user counts are
    INVARIANT to micro-batch split and cross-batch arrival order.
    Stage the events as 3 files in REVERSE time order, drain with
    maxFilesPerTrigger=1 (3 micro-batches, newest first), and the
    last update per user must still equal the batch
    event_pattern_match sequence counts (state re-sorts by event
    time)."""
    import glob
    import os
    import re
    import shutil
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark import streaming as stm
    from cs537_spring2021_p3a_mapreduce_spark.catalog import table
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tmp_ops

    src = tmp_path / "in"
    src.mkdir()
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    bounds = ["2024-01-11", "2024-01-21"]
    conds = [
        F.col("ts") < bounds[0],
        (F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1]),
        F.col("ts") >= bounds[1],
    ]
    # write NEWEST slice with the OLDEST mtime so it arrives first
    for i, cond in enumerate(reversed(conds)):
        d = tmp_path / f"slice{i}"
        raw.where(cond).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)

    ev = stm.stream_events(spark, str(src)).select(
        "user_id", "ts", "event_id", tmp_ops._event_char("event_type").alias("chr")
    )
    # re-read as maxFilesPerTrigger=1 needs its own reader options:
    # rebuild the stream with the option set
    file_schema = spark.read.parquet(str(src)).schema
    raw_stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    from cs537_spring2021_p3a_mapreduce_spark.catalog import normalize_event_ts

    ev = normalize_event_ts(raw_stream).select(
        "user_id", "ts", "event_id", tmp_ops._event_char("event_type").alias("chr")
    )
    updates = stm.pattern_match_updates(ev)
    name = f"pm_split_{uuid.uuid4().hex[:8]}"
    stm.run_to_memory(updates, name, str(tmp_path / "ckpt"), "update")
    got_tbl = spark.table(name)
    # at least 2 updates for some user proves a real multi-batch run
    assert got_tbl.agg(F.max("upd")).collect()[0][0] >= 2
    last = {
        r.user_id: r
        for r in got_tbl.groupBy("user_id")
        .agg(
            *[
                F.expr(f"max_by(m_{n}, upd)").alias(f"m_{n}")
                for n, _ in tmp_ops.CEP_PATTERNS
            ]
        )
        .collect()
    }
    # batch model: build per-user sequence and count with Python re
    ev_b = (
        table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs: dict[int, str] = {}
    for r in sorted(ev_b, key=lambda r: (r.ts, r.event_id)):
        seqs[r.user_id] = seqs.get(r.user_id, "") + tmp_ops.EVENT_CHARS.get(
            r.event_type, "x"
        )
    for n, pat in tmp_ops.CEP_PATTERNS:
        for uid, s in seqs.items():
            assert getattr(last[uid], f"m_{n}") == len(re.findall(pat, s)), (n, uid)


def test_stream_dedup_docs_minhash_collapses_planted_dups(spark, tmp_path):
    """Planted corpus through the on-ingest collapse: token-identical
    docs (exact copy; whitespace-variant copy) share a signature and
    collapse to the min doc_id; a distinct doc keeps its own row;
    sub-SHINGLE_K-token docs pass through unexamined (absent)."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        stream_dedup_docs_minhash,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (5, body, "en", "t", 0),
        (9, "  " + body.replace(" ", "   ") + " ", "en", "t", 0),  # same tokens
        (7, "completely different words here now okay fine", "en", "t", 0),
        (8, "too short", "en", "t", 0),  # < SHINGLE_K tokens → no shingles
    ]
    d = str(tmp_path / "corpus")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = stream_dedup_docs_minhash(spark, d).collect()
    by_keeper = {r.keeper_doc_id: r.n_copies for r in out}
    assert by_keeper == {5: 2, 7: 1}


def test_stream_dedup_docs_lsh_matches_batch_banding(spark):
    """Batch/stream parity for the BANDED near-dup tier: at fixture
    scale every doc_id gap is under the ingest horizon, so the
    streaming banded join must find exactly the batch
    ``dedup_minhash_int`` pair set — rolled up to per-doc verdicts
    (dup_of = min verified partner, that pair's jaccard, distinct
    witness count)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup
    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        LSH_HORIZON_S,
        stream_dedup_docs_lsh,
    )

    max_id = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").agg(
        F.max("doc_id")
    ).collect()[0][0]
    assert max_id < LSH_HORIZON_S  # test premise: all pairs in-horizon

    want: dict[int, tuple[int, float, int]] = {}
    for r in dedup.dedup_minhash_int(spark, SF_SMOKE).collect():
        prev = want.get(r.b_id)
        if prev is None:
            want[r.b_id] = (r.a_id, r.jaccard, 1)
        else:
            a, j, n = prev
            if r.a_id < a:
                a, j = r.a_id, r.jaccard
            want[r.b_id] = (a, j, n + 1)
    got = {
        r.dup_id: (r.dup_of, r.jaccard, r.n_witnesses)
        for r in stream_dedup_docs_lsh(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert len(got) > 0  # fixtures contain near-dups; parity isn't vacuous


def _stage_docs(spark, tmp_path, rows):
    """Stage one parquet file per element of ``rows`` — a ``(doc_id,
    text)`` row, or a list of them — mtime-ordered, so a
    ``maxFilesPerTrigger=1`` stream drains them as one micro-batch
    each in order. Returns ``(reader, src)``: a factory of fresh
    document streams over the staged dir, and the dir itself."""
    import glob
    import os
    import shutil

    src = tmp_path / "in"
    src.mkdir()
    for i, batch in enumerate(rows):
        d = tmp_path / f"doc{i}"
        spark.createDataFrame(
            batch if isinstance(batch, list) else [batch],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)

    def reader():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    return reader, str(src)


def test_dedup_upsert_pipeline_replays_last_batch_after_restart(spark, tmp_path):
    """The whole ingest pipeline — ``dedup_stream`` → ``foreachBatch``
    (newest version per key → ``merge_upsert``) — killed between its
    two commits: the manifest commit of the last batch landed, Spark's
    checkpoint commit did not (its ``commits/<id>`` file is missing).
    The restart replays that batch from the dedup state of the batch
    before; the table's rows must not change, and must equal a Python
    dedup-then-upsert of the input."""
    import os

    from pyspark.sql import Window

    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        create_manifest_table,
        merge_upsert,
        read_manifest_table,
    )

    files = [
        [(1, "a x"), (2, " A X "), (3, "a y"), (4, "b x")],
        # doc 5 resends doc 1 (dropped only if the dedup state holds);
        # docs 6 and 8 are the newest versions of keys b and c
        [(5, "a x"), (6, "b z"), (7, "c w"), (8, "c v")],
    ]
    reader, _ = _stage_docs(spark, tmp_path, files)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    create_manifest_table(sink)
    key = F.substring_index(F.lower(F.trim("text")), " ", 1)
    newest = Window.partitionBy("key").orderBy(F.col("doc_id").desc())

    def drain():
        applied = []

        def upsert(df, batch_id):
            applied.append(batch_id)
            latest = (
                df.withColumn("key", key)
                .withColumn("_r", F.row_number().over(newest))
                .filter("_r = 1")
                .select("key", "doc_id", "text")
            )
            merge_upsert(spark, sink, latest, ["key"])

        docs = reader().withColumn("ts", F.timestamp_seconds("doc_id"))
        q = (
            st.dedup_stream(docs, st.content_key("text"), "ts", "1 hour")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drained = q.awaitTermination(120)
        q.stop()
        assert drained
        return applied

    def table_rows():
        return sorted(
            (r.key, r.doc_id, r.text)
            for r in read_manifest_table(spark, sink).collect()
        )

    # dedup-then-upsert in Python: the first copy of each normalized
    # text survives, and a batch's newest doc per key overwrites
    seen, want = set(), {}
    for batch in files:
        for d, t in sorted(batch):
            norm = t.strip().lower()
            if norm not in seen:
                seen.add(norm)
                want[norm.split(" ")[0]] = (d, t)
    want = sorted((k, d, t) for k, (d, t) in want.items())

    assert drain() == [0, 1]
    first = table_rows()
    assert first == want
    for f in ("1", ".1.crc"):  # a killed driver leaves neither
        os.remove(os.path.join(ckpt, "commits", f))
    assert drain() == [1]  # the replayed batch, and nothing else
    assert table_rows() == first


def test_stream_dedup_docs_lsh_horizon_and_state_eviction(spark, tmp_path):
    """The IMPLEMENTED state bound, probed on a staged multi-batch
    drain: with horizon=1000 s and watermark=100 s, a near-dup 300 s
    after its original is flagged, an equally-near dup 5000 s after
    is NOT (out of horizon — the nightly batch tier's job), and the
    state-operator metrics show rows actually LEAVING the join state
    once the watermark passes their horizon (eviction, not just a
    docstring)."""
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        _lsh_band_rows,
        _lsh_shd_lookup,
        dedup_docs_lsh_stream,
        run_to_memory,
    )

    base = " ".join(f"w{i}" for i in range(20))
    # drained as four micro-batches in doc_id (= event-time) order
    reader, src = _stage_docs(spark, tmp_path, [
        (0, base),                 # original
        (300, base + " extra"),    # near-dup, in horizon (J = 18/19)
        (5000, base + " other"),   # near-dup of 0 AND 300, out of horizon
        (6000, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9"),  # unrelated; advances wm
    ])
    shd_of = _lsh_shd_lookup(
        spark.read.schema("doc_id long, text string").parquet(src)
    )
    pairs = dedup_docs_lsh_stream(
        _lsh_band_rows(reader(), "100 seconds"),
        _lsh_band_rows(reader(), "100 seconds"),
        shd_of,
        watermark="100 seconds",
        horizon_s=1000,
    )
    name = f"lsh_evict_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(pairs, name, str(tmp_path / "ckpt"), "append")
    got = spark.table(name).collect()
    # only the in-horizon pair is flagged, in every matching band
    assert {(r.a_id, r.b_id) for r in got} == {(0, 300)}
    assert all(r.jaccard == round(18 / 19, 6) for r in got)
    # multi-batch drain really happened (4 files, 1 per trigger)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 3
    # and state rows were EVICTED once the watermark passed their
    # horizon — the bound is mechanical, not documentation
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed > 0


def test_stream_dedup_docs_lsh_fails_loudly_on_uncovered_doc(spark, tmp_path):
    """The exact tier's verify side relation must cover every banded
    doc: on a staged two-batch drain whose shd_of omits the later
    near-dup, the query fails with an error naming that doc_id,
    instead of an inner attach join silently dropping the pair."""
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        _lsh_band_rows,
        _lsh_shd_lookup,
        dedup_docs_lsh_stream,
        run_to_memory,
    )

    base = " ".join(f"w{i}" for i in range(20))
    reader, src = _stage_docs(
        spark, tmp_path, [(0, base), (300, base + " extra")]  # J = 18/19
    )
    shd_of = _lsh_shd_lookup(
        spark.read.schema("doc_id long, text string")
        .parquet(src)
        .where(F.col("doc_id") != 300)
    )
    pairs = dedup_docs_lsh_stream(
        _lsh_band_rows(reader(), "100 seconds"),
        _lsh_band_rows(reader(), "100 seconds"),
        shd_of,
        watermark="100 seconds",
        horizon_s=1000,
    )
    with pytest.raises(Exception, match="shd_of does not cover banded doc_id 300"):
        run_to_memory(
            pairs,
            f"lsh_uncovered_{uuid.uuid4().hex[:8]}",
            str(tmp_path / "ckpt"),
            "append",
        )


def test_lsh_estimated_tier_state_drop(spark, tmp_path):
    """The two LSH deploy tiers' STATE contracts, read from the same
    state-operator metrics the eviction test probes. Both must (a)
    find the same planted high-J near-dup and (b) not flag the
    unrelated doc. State: same band-row COUNT (8 per doc per side);
    the exact tier's band rows are PAYLOAD-FREE (verify attaches the
    shingle-fold sets from the static side relation after the band
    join), so its per-row state must be materially SMALLER than the
    estimated tier's in-state 32-long signature — the r12 inversion
    of the original contract, where exact carried the full shd set
    ×8 and was the heavier tier."""
    import os
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        LSH_EST_MATCH_MIN,
        _lsh_band_rows,
        _lsh_shd_lookup,
        dedup_docs_lsh_stream,
        dedup_docs_lsh_stream_estimated,
        run_to_memory,
    )

    base = [f"tok{i}" for i in range(300)]
    near = list(base)
    near[150] = "swapped"  # 3 shingles differ → J ≈ 0.98
    planted = [
        (0, " ".join(base)),
        (10, " ".join(near)),
        (20, " ".join(f"zz{i}" for i in range(300))),  # unrelated
    ]
    filler = [
        (100 + j, " ".join(f"u{j}_{i}" for i in range(300))) for j in range(6)
    ]

    def drain(pairs, tag):
        name = f"lshtier_{tag}_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(pairs, name, str(tmp_path / f"ckpt_{tag}"), "append")
        state = [
            op
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        ]
        rows_max = max((op.get("numRowsTotal", 0) for op in state), default=0)
        bytes_max = max((op.get("memoryUsedBytes", 0) for op in state), default=0)
        return spark.table(name).collect(), rows_max, bytes_max

    def tiers(rows, tag):
        src = str(tmp_path / f"in_{tag}")
        os.makedirs(src, exist_ok=True)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(src)

        def reader():
            return spark.readStream.schema("doc_id long, text string").parquet(src)

        shd_of = _lsh_shd_lookup(
            spark.read.schema("doc_id long, text string").parquet(src)
        )
        exact = drain(
            dedup_docs_lsh_stream(
                _lsh_band_rows(reader(), "7 days"),
                _lsh_band_rows(reader(), "7 days"),
                shd_of,
            ),
            f"exact_{tag}",
        )
        est = drain(
            dedup_docs_lsh_stream_estimated(
                _lsh_band_rows(reader(), "7 days", payload="estimated"),
                _lsh_band_rows(reader(), "7 days", payload="estimated"),
            ),
            f"est_{tag}",
        )
        return exact, est

    (got_e, rows_e, bytes_e), (got_l, rows_l, bytes_l) = tiers(planted, "planted")
    (got_e2, rows_e2, bytes_e2), (got_l2, rows_l2, bytes_l2) = tiers(
        planted + filler, "grown"
    )
    # same verdicts on the planted corpus, and the filler adds none
    for got in (got_e, got_l, got_e2, got_l2):
        assert {(r.a_id, r.b_id) for r in got} == {(0, 10)}
    assert all(r.n_match >= LSH_EST_MATCH_MIN for r in got_l + got_l2)
    # same state ROW count (band rows); the exact tier's rows are
    # payload-free (doc_id, ev, band, bk) while the estimated tier
    # buffers a 32-long signature per row — exact must be materially
    # smaller. Each state partition adds a fixed store overhead that
    # grows with the drain width and would swamp the 3-doc payload on
    # a wide host (measured at 64 partitions: 131 KB vs 144 KB), so
    # compare what the 6 filler docs ADD at one width: payload only
    # (measured 0.65-0.68 of the estimated tier's growth from 1 to 64
    # partitions); require a 20% gap, which only the payload
    # difference can produce
    assert rows_l == rows_e > 0
    assert rows_l2 == rows_e2 > rows_e
    grow_e, grow_l = bytes_e2 - bytes_e, bytes_l2 - bytes_l
    assert 0 < grow_e < grow_l * 0.8, (grow_e, grow_l)


def test_stream_ivf_assign_partitions_whole_corpus(spark):
    """On-ingest routing: every vector lands in exactly one of the
    <= IVF_INT_K cells (counts sum to the corpus), and min_vec_id is
    a member of its own cell (min <= every other id routed there —
    sanity via totals)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.llm import IVF_INT_K
    from cs537_spring2021_p3a_mapreduce_spark.streaming import stream_ivf_assign

    sf = "/root/testdata/sf0.001"
    out = stream_ivf_assign(spark, sf).collect()
    n_corpus = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r.n_vectors for r in out) == n_corpus
    assert len(out) <= IVF_INT_K
    assert len({r.cell for r in out}) == len(out)
    assert all(0 <= r.cell < IVF_INT_K and r.min_vec_id >= 0 for r in out)


def test_bounded_minhash_dedup_horizon_reemission_and_eviction(spark, tmp_path):
    """The bounded signature dedup's state contract, on a staged
    multi-batch drain of the SAME stream the registered entry ships
    (``_lsh_signature_keys`` → ``dedup_stream`` on sig), with a short
    watermark: an in-horizon
    signature-identical copy is dropped, a copy arriving AFTER the
    watermark passed the first copy's state re-emits its signature
    (the documented horizon bound — the batch tier's job), and the
    dedup state-store metrics show rows leaving."""
    import uuid

    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        _lsh_signature_keys,
        dedup_stream,
        run_to_memory,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta"
    reader, _ = _stage_docs(spark, tmp_path, [
        (0, body),                       # original
        (100, body),                     # in-horizon copy: dropped
        (1_000_000, "z1 z2 z3 z4 z5"),   # filler: advances watermark
        # second filler batch: state EVICTION runs at end-of-batch
        # with that batch's watermark, one batch behind the data that
        # advanced it — the original's state leaves after this one
        (1_500_000, "y1 y2 y3 y4 y5"),
        (2_000_000, body),               # post-horizon copy: re-emits
    ])
    survivors = dedup_stream(
        _lsh_signature_keys(reader()),
        key="sig",
        ts_col="ev",
        watermark="100 seconds",
    )
    name = f"mhb_evict_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(
        survivors.select("doc_id", "sig"),
        name,
        str(tmp_path / "ckpt"),
        "append",
    )
    out = spark.table(name).collect()
    by_doc = {r.doc_id for r in out}
    assert 0 in by_doc          # first copy survives
    assert 100 not in by_doc    # in-horizon duplicate dropped
    assert 2_000_000 in by_doc  # post-horizon copy re-emits (the bound)
    body_sig = [r.sig for r in out if r.doc_id == 0][0]
    assert [r.sig for r in out if r.doc_id == 2_000_000] == [body_sig]
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed > 0  # signature state rows really evicted


def test_stream_decontaminate_matches_batch(spark):
    """Batch/stream parity: the on-ingest decontamination verdicts
    equal the batch pass row-for-row at sf0.001 (different shingle
    identities — xxhash64 vs strings — same distinct-gram counts),
    and at least one doc on each side of the contaminated flag
    exists so the parity is non-vacuous."""
    from cs537_spring2021_p3a_mapreduce_spark import streaming
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_ngrams, r.n_hit_ngrams, r.contaminated)
        for r in streaming.stream_decontaminate(spark, sf).collect()
    }
    exp = {
        r.doc_id: (r.n_ngrams, r.n_hit_ngrams, r.contaminated)
        for r in llm.decontaminate_ngram(spark, sf).collect()
    }
    assert got == exp and len(got) > 0
    flags = {v[2] for v in got.values()}
    assert flags == {0, 1}


def test_stream_quality_filter_matches_batch_rollup(spark):
    """Model identity: rolling the streaming per-doc verdicts up by
    language reproduces the batch quality_filter_trained table
    exactly — train-once/apply-on-ingest cannot drift from the batch
    filter because both score with the same averaged weight row."""
    from cs537_spring2021_p3a_mapreduce_spark import streaming
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    sf = "/root/testdata/sf0.001"
    per_doc = streaming.stream_quality_filter_trained(spark, sf).collect()
    assert len(per_doc) == 500  # one verdict per doc
    roll = {}
    for r in per_doc:
        n, k = roll.get(r.lang, (0, 0))
        roll[r.lang] = (n + 1, k + r.keep)
    exp = {
        r.lang: (r.n_docs, r.n_keep, r.keep_micro)
        for r in llm.quality_filter_trained(spark, sf).collect()
    }
    assert set(roll) == set(exp)
    for lang, (n, k) in roll.items():
        en, ek, emic = exp[lang]
        assert (n, k) == (en, ek)
        assert emic == k * 1_000_000 // n


def test_stream_bottomk_multibatch_order_invariance(spark, tmp_path):
    """THE bottom-K property: drain the same docs in TWO micro-batches
    (split at an arbitrary doc_id boundary) and the final per-source
    sample equals the batch bottom-K over everything — arrival order
    and batch boundaries cannot change a hash-priority sample. State
    stays K-bounded: no emission ever exceeds K rows per source."""
    import os

    from pyspark.sql import functions as F
    from cs537_spring2021_p3a_mapreduce_spark import streaming
    from cs537_spring2021_p3a_mapreduce_spark.operators.dedup import _md5_fold

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    src = str(tmp_path / "in")
    os.makedirs(src)
    # two files staged up front; maxFilesPerTrigger=1 -> two batches
    docs.where("doc_id < 250").coalesce(1).write.parquet(
        os.path.join(src, "b1.parquet")
    )
    docs.where("doc_id >= 250").coalesce(1).write.parquet(
        os.path.join(src, "b2.parquet")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    out = streaming.bottomk_sample_stream(stream)
    streaming.run_to_memory(out, "bk_test", str(tmp_path / "ckpt"), "update")
    rows = spark.table("bk_test").collect()
    # two emissions per source (one per batch) -> final = max n_seen
    final = {}
    for r in rows:
        cur = final.setdefault(r.source, [])
        cur.append(r)
    expected = {
        (r.source, r.doc_id): r.rank
        for r in docs.select(
            "source",
            "doc_id",
            _md5_fold(F.col("doc_id").cast("string"), 1, 12).alias("pri"),
        )
        .withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY source"
                " ORDER BY pri, doc_id)"
            ),
        )
        .where(F.col("rank") <= streaming.STREAM_SAMPLE_K)
        .collect()
    }
    for source, emitted in final.items():
        n_final = max(r.n_seen for r in emitted)
        last = [r for r in emitted if r.n_seen == n_final]
        assert 0 < len(last) <= streaming.STREAM_SAMPLE_K
        for r in last:
            assert expected[(r.source, r.doc_id)] == r.rank
    # every batch-side bottom-K member was emitted by its source's
    # final batch (sample completeness, not just soundness)
    finals = {
        (r.source, r.doc_id)
        for src_rows in final.values()
        for r in src_rows
        if r.n_seen == max(x.n_seen for x in src_rows)
    }
    assert finals == set(expected)


def test_stream_anomaly_zscore_planted_spike(spark, tmp_path):
    """Planted per-type series: 20 ticks at ~10 dollars plus one
    1000-dollar spike — the spike flags, the baseline ticks don't,
    and the verdict is reproduced by the exact integer inequality
    (xn - S)^2 > 9(nQ - S^2) in Python; a two-batch staged drain
    (stateless append) flags exactly the same set."""
    import os

    from pyspark.sql import functions as F
    from cs537_spring2021_p3a_mapreduce_spark import streaming

    vals = [10.0 + 0.25 * i for i in range(20)] + [1000.0]
    rows = [
        (i, "2024-01-01 00:00:00", i, "tick", v, None)
        for i, v in enumerate(vals)
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    ).coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))

    out = {r.event_id: r
           for r in streaming.stream_anomaly_zscore(spark, sf).collect()}
    assert len(out) == len(vals)

    x = [round(v * 100) for v in vals]
    n, s = len(x), sum(x)
    q = sum(v * v for v in x)
    for i, xv in enumerate(x):
        expect = int((xv * n - s) ** 2 > 9 * (n * q - s * s))
        assert out[i].is_anomaly == expect
        assert out[i].n_base == n and out[i].x_cents == xv
    assert out[len(vals) - 1].is_anomaly == 1
    assert sum(r.is_anomaly for r in out.values()) == 1


def test_chained_windows_two_stateful_operators(spark):
    """The chained entry really runs TWO stateful aggregations in one
    query (not a collapsed single agg), both levels hold state, and
    batch parity holds on the provably-emitted hourly set."""
    from cs537_spring2021_p3a_mapreduce_spark.streaming import (
        stream_chained_windows,
    )

    got = {
        (r.hour_start, r.event_type): (r.n_events, r.n_buckets)
        for r in stream_chained_windows(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    cutoff = ev.agg(
        (F.max(F.unix_micros("ts")) - 3_600_000_000).alias("c")
    ).collect()[0].c
    b15 = ev.groupBy(
        F.window("ts", "15 minutes").alias("w15"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n15"))
    want = {
        (r.hour_start, r.event_type): (r.n_events, r.n_buckets)
        for r in b15.groupBy(
            F.window(F.col("w15.start"), "1 hour").alias("w1h"), "event_type"
        )
        .agg(
            F.sum("n15").alias("n_events"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .where(F.unix_micros(F.col("w1h.end")) <= cutoff)
        .select(
            F.date_format(F.col("w1h.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n_events",
            "n_buckets",
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # some hour genuinely aggregates >1 fifteen-minute bucket —
    # otherwise the second stateful level would be vacuous
    assert any(nb > 1 for _, nb in got.values())


def _drain_state_widths(spark, conf: str, drain) -> set[int]:
    """``numShufflePartitions`` of every state operator in every
    progress event of the streams ``drain()`` runs with the session's
    shuffle conf at ``conf``, read through a listener (registered
    drains return a table, not their query)."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class Widths(StreamingQueryListener):
        def __init__(self):
            self.widths: set[int] = set()
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            for op in event.progress.stateOperators:
                self.widths.add(op.numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            # the bus delivers a query's progress before its end
            self.done.set()

    listener = Widths()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", conf)
    spark.streams.addListener(listener)
    try:
        drain()
        assert listener.done.wait(60)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return listener.widths


@pytest.mark.parametrize(
    "entry, conf",
    [
        ("stream_wordcount", "3"),
        ("stream_upsert_totals", "3"),
        ("stream_custom_source_counts", "3"),
        # a vanilla session's default would mean 200 state commits
        # per micro-batch
        ("stream_wordcount", "200"),
    ],
)
def test_registered_drain_state_width_follows_session_conf(spark, entry, conf):
    """The run_to_memory, keyed-parquet and offset-polled drains all
    take their state width from the session's shuffle conf, capped at
    the cores, so a partition-invariance replay reaches them."""
    import os

    fn = getattr(st, entry)
    widths = _drain_state_widths(spark, conf, lambda: fn(spark, SF_SMOKE).collect())
    cap = min(spark.sparkContext.defaultParallelism, os.cpu_count())
    assert widths == {min(int(conf), cap)}
