"""Structured Streaming surface.

The reference has no streaming at all (SURVEY §2.B); the batch
queries ``time_bucket_events`` / ``session_windows`` implement the
window *semantics* over the static events table. This module is the
declared upgrade path made real: the same event-time logic as
``readStream`` plans with watermarks, so a user can move any of the
batch event queries onto a live source by swapping the reader.

Scale notes: all operators here are keyed-state streaming aggs —
state lives in the executor state store, partitioned by group key,
with watermark-driven eviction. That is exactly the 100 TB design:
no global state, no driver-side accumulation, late data bounded by
the watermark.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from contextlib import contextmanager
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..scratch import scratch_dir
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def stream_events(spark: SparkSession, sf_dir_or_glob: str) -> DataFrame:
    """events as an unbounded source: file-stream over the same
    parquet layout the batch catalog reads, ts normalized to a µs
    TIMESTAMP exactly like catalog.table. On a deployment this reader
    is swapped for Kafka/Kinesis; every operator below only sees
    (columns, event-time), not the source.
    """
    from ..catalog import normalize_event_ts

    # Streams can't infer schemas — take it from one batch footer read
    # of the same path, so the reader tracks whatever encoding the
    # files use (epoch-nanos bigint in round-1 data, timestamp[us]
    # NTZ in round-2 data). Caller-independent source contract: set
    # the nanos conf at runtime so an externally built session works.
    # Normalization itself lives in catalog.normalize_event_ts — ONE
    # implementation for every reader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    file_schema = spark.read.parquet(sf_dir_or_glob).schema
    raw = spark.readStream.schema(file_schema).parquet(sf_dir_or_glob)
    return normalize_event_ts(raw)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming analog of the batch ``time_bucket_events``: tumbling
    event-time windows with a watermark bounding late data and state
    size. Output: window_start, event_type, cnt."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming analog of the batch ``session_windows``: native
    session windows (gap-merged event-time intervals) per user.
    Output: user_id, session_start, session_end, n_events."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Hopping (sliding) event-time windows: each event lands in
    window/slide overlapping buckets (4 here), all epoch-aligned.
    Spark expands the assignment inside the aggregate — state is
    (windows × types) live within the watermark horizon, not a per-
    event blow-up. Output: window_start, event_type, cnt."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def interval_join_clicks_to_purchases(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "4 hours",
    watermark: str = "1 hour",
    how: str = "inner",
    keep_event_time: bool = False,
) -> DataFrame:
    """Stream-stream INNER interval join: every (purchase, click)
    pair for the same user where the click happened in
    [purchase.ts − lookback, purchase.ts). The canonical streaming
    attribution shape.

    State bound — the reason this runs forever on an unbounded
    stream: BOTH sides carry an event-time watermark and the join
    condition bounds each side's time against the other, so the
    engine derives per-side state-eviction horizons (a click older
    than watermark+lookback can never match a future purchase and
    its state row is dropped). An un-watermarked stream-stream join
    would buffer both streams in full. Inner-join rows emit as soon
    as both sides arrive; no watermark wait. With ``how='leftOuter'``
    an unmatched purchase emits null-extended ONLY once the
    watermark passes its timestamp (no future click can match) — so
    outer results are delayed one trigger and a finite drain must
    either see a watermark advance mid-stream or accept withheld
    trailing rows (see ``stream_interval_join_outer``).

    Output: purchase_id, click_id, user_id, gap_s (click_id/gap_s
    null for unmatched purchases under leftOuter)."""
    p = (
        purchases.select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        ).withWatermark("p_ts", watermark)
    )
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        ).withWatermark("c_ts", watermark)
    )
    return (
        p.join(
            c,
            (p["user_id"] == c["c_user_id"])
            & (c["c_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {lookback}"))
            & (c["c_ts"] < p["p_ts"]),
            how,
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000").alias(
                "gap_s"
            ),
            *(["p_ts"] if keep_event_time else []),
        )
    )


def streaming_wordcount(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """The reference flagship as an incremental query: unbounded
    lines → running token counts (update mode). State = one long per
    distinct token, partitioned by token hash."""
    from ..functions.text import tokens

    return (
        lines.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count emitted on every update — the shape any
    bespoke streaming accumulator takes when window/session built-ins
    don't fit. State: one long per user; no timeout (the watermark
    column is not needed for a pure running count).

    Spark 4's successor API (``transformWithStateInPandas`` +
    ``StatefulProcessor``) expresses the same operator with typed
    state and timers; it needs the RocksDB state store and a working
    ``protobuf`` Python package (absent in this environment — probed
    and the streaming Python runner crashes on import), so this repo
    standardizes on applyInPandasWithState."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        seen = state.get[0] if state.exists else 0
        for pdf in pdfs:
            seen += len(pdf)
        state.update((seen,))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [seen]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_close_on_timeout(events: DataFrame, gap_ms: int = 30 * 60 * 1000,
                             watermark: str = "1 hour") -> DataFrame:
    """Timeout-driven session closer — the state-LIFECYCLE shape
    ``running_user_counts`` doesn't exercise: per-user state carries
    the running count and an EVENT-TIME TIMEOUT at last_seen + gap;
    when the watermark passes that timestamp the engine invokes the
    function with ``state.hasTimedOut`` and the session emits its
    final row exactly once, state removed. This is how bespoke
    stateful operators bound their memory on an unbounded stream —
    eviction is driven by the engine's watermark clock, not by data
    arrival (an idle key would otherwise pin state forever).

    Output (only CLOSED sessions): user_id, n_events."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [user_id], "n_events": [n]})
            return
        n = state.get[0] if state.exists else 0
        last_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            # datetime64[ns] → epoch MILLISECONDS (the unit
            # setTimeoutTimestamp expects; µs here silently parks the
            # timeout ~1000× in the future and nothing ever evicts)
            last_ms = max(
                last_ms, int(pdf["ts"].astype("int64").max()) // 1_000_000
            )
        state.update((n,))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame({"user_id": [], "n_events": []}).astype(
            {"user_id": "int64", "n_events": "int64"}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def content_key(text_col: str = "text") -> F.Column:
    """The batch ``dedup_exact`` identity (normalize → sha2-256),
    exposed so stream and batch dedup agree on what "same document"
    means."""
    return F.sha2(F.lower(F.trim(text_col)), 256)


def dedup_stream(
    df: DataFrame,
    key: F.Column | str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST record seen per
    key; later arrivals with the same key are dropped for as long as
    the key's state lives. ``dropDuplicatesWithinWatermark`` keys the
    state store on the dedup key and evicts entries once the
    watermark passes them — state is bounded by (keys per horizon),
    not by stream history.

    That bound is the 100 TB contract: an unbounded-horizon streaming
    dedup would accumulate one state row per distinct document ever
    seen. Exactness beyond the horizon belongs to the batch layer
    (``operators.llm.dedup_exact`` over the accumulated table); this
    operator guarantees no duplicate pair within ``watermark`` of
    each other survives, which is the within-batch/near-in-time dup
    case (crawler retries, producer replays) a pipeline actually
    faces at ingest.

    ``key`` is any expression — ``content_key()`` for exact text
    identity, or e.g. a SimHash band for a cheap near-dup screen."""
    keyed = df.withColumn(
        "dedup_key", F.col(key) if isinstance(key, str) else key
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["dedup_key"])
        .drop("dedup_key")
    )


@contextmanager
def _drain_width(spark: SparkSession):
    """Set the state width of the drains started inside the block, and
    restore the session's conf after. The width is
    ``min(spark.sql.shuffle.partitions, defaultParallelism, cores)``:
    ``get_spark`` already sets the first to the second, so the rule
    matters for other sessions — a vanilla driver session's 200, or
    the oracle gate's ``local[32]`` on a 4-core host. Each stateful
    micro-batch commits one state store per partition, so on small
    bounded inputs the cost follows the width, not the data (the
    registered drains at sf0.01, in the gate's session on 4 cores:
    159 s summed 32 wide, 89-96 s 4 wide). A restarted stream keeps the
    width its checkpoint recorded at its first batch."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    width = min(
        int(prev), spark.sparkContext.defaultParallelism, os.cpu_count() or 1
    )
    spark.conf.set(key, str(width))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _await_offset(q, field: str, target: int, label: str) -> None:
    """Run the started query ``q`` until its source's committed
    ``endOffset[field]`` reaches ``target``, let the final batch's
    output commit, and stop it. For Python micro-batch sources, which
    fall back to one paced batch under availableNow: their offset axis
    is the progress signal. A failed query raises its cause at once
    rather than burning the 120 s deadline, which raises
    ``TimeoutError``."""
    import ast
    import json
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        exc = q.exception()
        if exc is not None:
            raise exc
        p = q.lastProgress
        if p and p["sources"]:
            end = p["sources"][0].get("endOffset")
            if isinstance(end, str):
                # a dict in some pyspark paths, JSON or a repr string
                # in others
                try:
                    end = json.loads(end)
                except ValueError:
                    end = ast.literal_eval(end)
            if end and end.get(field, 0) >= target:
                q.processAllAvailable()
                q.stop()
                return
        time.sleep(0.05)
    q.stop()
    raise TimeoutError(f"{label} drain did not reach {field} {target}")


def run_to_keyed_parquet(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """Streaming → keyed-upsert sink: every micro-batch MERGEs into
    the parquet table with last-write-wins per key (the hashmap-sink
    semantics, A10, applied to an unbounded source). foreachBatch is
    the documented Spark pattern for sinks without native streaming
    writers; with a transactional table (Delta/Iceberg) the same
    callback body becomes an atomic MERGE, giving exactly-once.
    Drains available input (availableNow) and blocks; the state is
    as wide as ``_drain_width`` sets it."""
    from ..sources import upsert_keyed_parquet

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_keyed_parquet(
            batch_df.sparkSession, batch_df, path, key_cols
        )

    with _drain_width(df.sparkSession):
        q = (
            df.writeStream.foreachBatch(_merge)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _copy_table_files(
    sf_dir: str, name: str, dst_dir: str, tag: str = ""
) -> None:
    """Stage a table's parquet file(s) into ``dst_dir`` — handles
    BOTH layouts: the fixtures' single ``<name>.parquet`` file and a
    Spark-written ``<name>.parquet/`` DIRECTORY of part files (what
    any engine-generated dataset looks like)."""
    import glob
    import shutil

    src = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(glob.glob(os.path.join(src, "*.parquet")))
        if os.path.isdir(src)
        else [src]
    )
    for i, f in enumerate(files):
        shutil.copy(f, os.path.join(dst_dir, f"part-{tag}{i}.parquet"))


def _staged_events_stream(spark: SparkSession, sf_dir: str, work: str) -> DataFrame:
    """Copy the events table into a fresh directory (the file-stream
    source requires a directory basePath, not a bare file) and open
    it as the standard events stream."""
    src_dir = os.path.join(work, "in")
    os.makedirs(src_dir, exist_ok=True)
    _copy_table_files(sf_dir, "events", src_dir)
    return stream_events(spark, src_dir)


def stream_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming entry: tumbling 1-hour event counts
    computed BY THE STREAMING ENGINE (readStream → window agg →
    availableNow drain into a memory sink), value-checked against
    the plain batch SQL oracle — the batch/stream parity Spark's
    unified model promises, enforced by the driver's hash compare.

    Complete output mode: on a finite input the watermark never
    passes the trailing windows, so append mode would withhold them;
    complete emits the full (small: one row per window×type) result
    each trigger. Bucket emitted as a formatted string for
    type-stable oracle comparison."""
    import uuid

    work = scratch_dir("stream_tb_")
    counts = windowed_event_counts(_staged_events_stream(spark, sf_dir, work))
    out = counts.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("cnt").alias("n_events"),
    )
    name = f"stream_tb_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the CUSTOM STATEFUL operator
    (applyInPandasWithState running per-user counts): drain the
    events stream in update mode, then reduce the update log with
    max() — the last update per user is its total, whatever the
    micro-batch split was — and value-check against a batch
    count(*) oracle. This closes the \"custom stateful streaming is
    only rows-only checkable\" hole: the state machine's final
    answer is exact and SQL-expressible even though its increments
    aren't."""
    import uuid

    work = scratch_dir("stream_rc_")
    counts = running_user_counts(_staged_events_stream(spark, sf_dir, work))
    name = f"stream_rc_{uuid.uuid4().hex[:8]}"
    run_to_memory(counts, name, os.path.join(work, "ckpt"), "update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for NATIVE streaming session windows:
    ``session_window`` gap-merged per-user sessions computed by the
    streaming engine, value-checked against a gaps-and-islands SQL
    oracle written to the ENGINE's merge rule — two per-user events
    start a new session iff their gap is ≥ the window gap (each
    event spans [ts, ts+gap) and merging requires overlap, so an
    exactly-gap-apart pair does NOT merge; the batch
    ``session_windows`` query uses the > convention, which is why
    this entry carries its own oracle). ``session_end`` is the
    engine's definition too: last event + gap, not last event.

    Complete output mode for the finite-drain reason documented at
    stream_time_bucket. State per key is one open session interval,
    watermark-evicted — the 100 TB shape."""
    import uuid

    work = scratch_dir("stream_sw_")
    sessions = session_event_counts(_staged_events_stream(spark, sf_dir, work))
    out = sessions.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )
    name = f"stream_sw_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for STREAMING EXACT DEDUP
    (``dropDuplicatesWithinWatermark``): the events file is staged
    TWICE into the stream source, so every record arrives as an
    exact duplicate pair; the streaming state keeps the first copy
    per event_id and the oracle is simply the original table — the
    duplicates must vanish, whatever micro-batch split the engine
    chose. Within-watermark state covers in-batch and cross-batch
    dups; a copy arriving after its key's state evicted is by
    definition older than the watermark and is dropped as late —
    either way exactly one copy survives (the bounded-state
    guarantee documented on ``dedup_stream``).

    Output: event_id, user_id, event_type, n (always 1 — the count
    aggregate would double without the dedup, which is what makes
    this value-check the dedup and not just the plumbing)."""
    import shutil
    import uuid

    work = scratch_dir("stream_dd_")
    src_dir = os.path.join(work, "in")
    os.makedirs(src_dir, exist_ok=True)
    for copy in (0, 1):
        _copy_table_files(sf_dir, "events", src_dir, tag=f"{copy}_")
    deduped = dedup_stream(
        stream_events(spark, src_dir), key="event_id", watermark="1 hour"
    )
    # dedup_stream already defined the event-time watermark; it
    # propagates to this aggregate (re-declaring one is disallowed
    # with multiple stateful operators). NOTE: this per-event count
    # aggregate is the VERIFICATION harness, not the production op —
    # complete-mode state grows with the drained input, which is fine
    # for a bounded driver check. The production operator is
    # ``dedup_stream`` alone (watermark-bounded state), whose output
    # feeds a normal sink.
    counts = deduped.groupBy("event_id", "user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    name = f"stream_dd_{uuid.uuid4().hex[:8]}"
    run_to_memory(counts, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the STREAMING → KEYED-UPSERT SINK
    chain (``run_to_keyed_parquet``): per-user running counts stream
    through ``applyInPandasWithState`` in update mode, every
    micro-batch MERGEs into one keyed parquet table last-write-wins
    on (user_id, version=n_events), and the table read back must
    equal the batch per-user totals — update-log replays through the
    A10 sink semantics (hashmap.c:40-46) converge to the final
    state, whatever the micro-batch split was.

    Output: user_id, n_events.
    """
    work = scratch_dir("stream_up_")
    counts = running_user_counts(_staged_events_stream(spark, sf_dir, work))
    path = os.path.join(work, "totals")
    run_to_keyed_parquet(
        counts, path, key_cols=["user_id"], checkpoint_dir=os.path.join(work, "ckpt")
    )
    from ..sources import read_keyed_table

    return read_keyed_table(spark, path).select("user_id", "n_events")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for HOPPING WINDOWS: 1-hour windows
    sliding every 15 minutes, computed by the streaming engine and
    value-checked against a batch oracle that reproduces the
    window-assignment rule arithmetically (each event belongs to the
    4 epoch-aligned 15-minute starts covering it — the k∈[0,4)
    expansion in the SQL). Complete mode for the finite-drain reason
    documented at stream_time_bucket."""
    import uuid

    work = scratch_dir("stream_sl_")
    counts = sliding_event_counts(_staged_events_stream(spark, sf_dir, work))
    out = counts.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("cnt").alias("n_events"),
    )
    name = f"stream_sl_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the STREAM-STREAM INTERVAL JOIN:
    purchases and clicks arrive as two independent file-streams over
    the same staged events directory, and every click within 4 hours
    before a same-user purchase must pair up — value-checked against
    the plain inequality-join SQL. Append mode: inner-join matches
    are final the moment they emit."""
    import uuid

    work = scratch_dir("stream_ij_")
    ev_p = _staged_events_stream(spark, sf_dir, work)
    # second independent reader over the already-staged directory
    ev_c = stream_events(spark, os.path.join(work, "in"))
    joined = interval_join_clicks_to_purchases(
        ev_p.where(F.col("event_type") == "purchase"),
        ev_c.where(F.col("event_type") == "click"),
    )
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, os.path.join(work, "ckpt"), "append")
    return spark.table(name)


# Fixed wall-clock split for the outer-join drain: events span
# 2024-01-01..01-30 at every sf, so both halves are non-empty.
# Carried as an epoch-µs integer (2024-01-16T00:00:00Z) so every
# comparison is session-timezone-independent.
_OUTER_SPLIT = "2024-01-16 00:00:00"
_OUTER_SPLIT_EPOCH_US = 1_705_363_200_000_000

# staged two-half event files, memoized per (process, corpus): the
# staging is pure fixture preparation (the same deterministic split
# of the same catalog-normalized table), while every streaming query
# keeps its own fresh checkpoint/state per call — the part that IS
# the operator. r6 bench: each staging re-run cost ~2 s × two entries
# per full pass.
_EVENT_HALVES_CACHE: dict[tuple[str, str], str] = {}


def staged_event_halves(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table as two mtime-ordered parquet files
    split at _OUTER_SPLIT_EPOCH_US (both halves non-empty at every
    sf) and return the directory, once per (process, corpus). File
    streams order batches by modification time, so half0 always
    forms micro-batch 1 — the watermark advances mid-stream, which
    is what the timeout/outer-join entries exist to exercise."""
    import glob
    import shutil

    from ..catalog import corpus_fingerprint
    from ..catalog import table as _table

    memo_key = (sf_dir, corpus_fingerprint(sf_dir, "events"))
    cached = _EVENT_HALVES_CACHE.get(memo_key)
    if cached is not None and os.path.exists(
        os.path.join(cached, "part-1.parquet")
    ):
        return cached
    work = scratch_dir("stream_halves_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    ev = _table(spark, sf_dir, "events")
    halves = [
        ev.where(F.unix_micros("ts") < _OUTER_SPLIT_EPOCH_US),
        ev.where(F.unix_micros("ts") >= _OUTER_SPLIT_EPOCH_US),
    ]
    for i, half in enumerate(halves):
        d = os.path.join(work, f"half{i}")
        half.coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(part, dst)
        # file-stream batches follow modification time: half0 first
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    _EVENT_HALVES_CACHE[memo_key] = src
    return src


def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the LEFT-OUTER stream-stream interval
    join — the shape where watermark semantics actually bite: an
    unmatched purchase may only emit null-extended once the
    watermark proves no future click can match it, and outer results
    are delayed until the trigger AFTER that watermark advance. A
    single-batch drain therefore withholds every outer row; this
    entry stages events as TWO time-split files consumed one per
    micro-batch (``maxFilesPerTrigger=1``, mtime-ordered), so batch
    2 runs under the watermark derived from batch 1 (max first-half
    ts − delay) and flushes the outer state behind it.

    The result is then restricted — identically on both engines —
    to purchases below that provable-emission cutoff: rows above it
    are *correctly* withheld by streaming semantics (their no-match
    proof never arrives on a finite input), so the comparison pins
    exactly the rows the engine guarantees. Late clicks behind the
    batch-1 watermark are impossible by construction (the split is
    on event time), so no match is lost to lateness.

    Output: purchase_id, click_id (null if no prior click), user_id,
    gap_s (null if unmatched)."""
    import glob
    import shutil
    import uuid

    work = scratch_dir("stream_oj_")
    # Staged files carry the CATALOG-NORMALIZED frame (any source
    # encoding → µs TIMESTAMP instant), split on epoch-µs integers
    # against a fixed UTC literal — session-timezone-independent,
    # works for the epoch-nanos bigint encoding too (a raw
    # `ts < '<string>'` split would be NULL for bigint ts and
    # tz-shifted for NTZ ts). Memoized: the staging is fixture prep,
    # the stream run below is the operator.
    src = staged_event_halves(spark, sf_dir)

    file_schema = spark.read.parquet(src).schema

    def reader() -> DataFrame:
        # staged files already carry the normalized µs TIMESTAMP, so
        # normalize_event_ts is a pass-through here; keeping the call
        # means a future staging change cannot silently skip it
        from ..catalog import normalize_event_ts

        return normalize_event_ts(
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    joined = interval_join_clicks_to_purchases(
        reader().where(F.col("event_type") == "purchase"),
        reader().where(F.col("event_type") == "click"),
        how="leftOuter",
        keep_event_time=True,
    )
    name = f"stream_oj_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, os.path.join(work, "ckpt"), "append")
    # provable-emission cutoff = batch-1 watermark, via 1-row
    # broadcast, in epoch-µs integers end to end
    from ..catalog import table as _table

    cutoff = (
        _table(spark, sf_dir, "events")
        .where(F.unix_micros("ts") < _OUTER_SPLIT_EPOCH_US)
        .agg(
            (F.max(F.unix_micros("ts")) - 3_600_000_000).alias("cutoff_us")
        )
    )
    return (
        spark.table(name)
        .crossJoin(F.broadcast(cutoff))
        .where(F.unix_micros("p_ts") < F.col("cutoff_us"))
        .select("purchase_id", "click_id", "user_id", "gap_s")
    )


def stream_custom_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the CUSTOM PYTHON STREAMING SOURCE
    (``sources/eventlog_stream.py``): events replayed through
    ``format("mr_eventlog")`` in 5 offset-tracked micro-batches
    (batch_rows sized to the sf0.01 gate), per-type counts
    aggregated by the streaming engine, value-checked against batch
    SQL. What this proves beyond the file-stream entries: the SOURCE
    owns the offset axis (initialOffset → read → commit across
    real multi-batch progression), i.e. the Kafka-connector seam
    works end-to-end.

    Output: event_type, n_events."""
    import uuid

    from ..sources.eventlog_stream import EventLogStreamSource

    try:
        spark.dataSource.register(EventLogStreamSource)
    except Exception:
        pass

    work = scratch_dir("stream_cs_")
    n_rows = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).count()
    # ~3 micro-batches at any sf: enough to prove multi-batch offset
    # progression; each extra batch costs ~0.5 s of fixed micro-batch
    # machinery (offset WAL + state commit + one Python-source task
    # round trip), measured — the data volume is irrelevant since the
    # source reads are worker-cached zero-copy slices
    batch_rows = max(2000, -(-n_rows // 3))
    raw = (
        spark.readStream.format("mr_eventlog")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batch_rows", str(batch_rows))
        .load()
    )
    counts = raw.groupBy("event_type").agg(F.count("*").alias("n_events"))
    name = f"stream_cs_{uuid.uuid4().hex[:8]}"
    # availableNow snapshots only the simple reader's prefetched
    # batch, so drain with a continuous trigger until the source's
    # committed offset reaches the file's row count
    with _drain_width(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        _await_offset(q, "rank", n_rows, "mr_eventlog")
    return spark.table(name)


def stream_enrich_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the STREAM-STATIC join: the purchase
    stream enriched against the static ``customer`` dimension
    (user_id → c_custkey) and aggregated per market segment —
    the canonical streaming-enrichment shape. Stream-static joins
    are STATELESS on the stream side: each micro-batch broadcast-
    joins the dim snapshot, nothing is buffered across batches (the
    dim is re-resolvable per batch, which is how slowly-changing
    dims refresh mid-stream on a real deployment). Complete mode
    for the finite-drain reason documented at stream_time_bucket.

    Unmatched purchases (user ids beyond the customer table) are
    kept with segment '<unknown>' — enrichment must not drop facts.

    Output: segment, n_purchases, sum_cents."""
    import uuid

    from ..catalog import table as _table

    work = scratch_dir("stream_en_")
    purchases = _staged_events_stream(spark, sf_dir, work).where(
        F.col("event_type") == "purchase"
    )
    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        purchases.join(F.broadcast(cust), "user_id", "left")
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("<unknown>")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "sum_cents"
            ),
        )
    )
    name = f"stream_en_{uuid.uuid4().hex[:8]}"
    run_to_memory(enriched, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC bars — the batch ``ohlc_bars`` aggregation
    (min_by/max_by over the zero-padded (epoch-micros, event_id)
    total-order key) maintained INCREMENTALLY over an event stream:
    open/close/high/low/volume per (event_type, day) update as ticks
    arrive, because every one of those aggregates has a partial
    merge (min_by keeps the least-key pair). Complete-mode drain;
    state is bar-count-bounded (≈150 groups here), which is the
    honest unbounded-retention choice for a finite backfill — a live
    deployment adds a watermark to age out closed days.

    Batch/stream parity: the oracle is the batch query's SQL
    verbatim. Output: event_type, day, open/high/low/close cents,
    n_events, vol_cents.
    """
    import uuid

    work = scratch_dir("stream_ohlc_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "events", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    ev = spark.readStream.schema(schema).parquet(src)
    cents = F.round(F.col("value") * 100).cast("long")
    # the staged parquet reads ts as TIMESTAMP_NTZ; session TZ is UTC
    # so the cast is wall-clock identity (unix_micros needs TIMESTAMP)
    key = F.concat(
        F.lpad(
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"
        ),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bars = (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            cents.alias("cents"),
            key.alias("k"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("cents", "k").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "k").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("vol_cents"),
        )
    )
    name = f"stream_ohlc_{uuid.uuid4().hex[:8]}"
    run_to_memory(bars, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CURATION FILTER: the Gopher rule bundle
    (``operators.llm.gopher_flags`` — the exact same per-row
    expressions as the batch ``gopher_quality_rules``) applied to a
    document STREAM, with the drop accounting a live ingest pipeline
    alerts on: total docs seen, docs passing, and per-rule failure
    counts. Batch/stream parity by construction — one rule
    definition, two engines.

    Scale shape: the rules are stateless per-row expressions; the
    only state is ONE global aggregation row (six counters) —
    bounded forever, no watermark needed. Complete mode emits the
    running totals per trigger; the finite drain's last emission is
    the full-corpus audit, which the oracle recomputes in SQL.

    Output: n_docs, n_pass, fail_wordcount, fail_wordlen,
    fail_alpha, fail_stop.
    """
    import uuid

    from ..operators.llm import gopher_flags

    work = scratch_dir("stream_gq_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs = spark.readStream.schema(schema).parquet(src)
    flags = gopher_flags(docs)
    audit = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pass_all").alias("n_pass"),
        F.sum(1 - F.col("r_wordcount")).alias("fail_wordcount"),
        F.sum(1 - F.col("r_wordlen")).alias("fail_wordlen"),
        F.sum(1 - F.col("r_alpha")).alias("fail_alpha"),
        F.sum(1 - F.col("r_stop")).alias("fail_stop"),
    )
    name = f"stream_gq_{uuid.uuid4().hex[:8]}"
    run_to_memory(audit, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST BENCHMARK DECONTAMINATION — the streaming form of
    ``decontaminate_ngram``: flag documents sharing any
    word-DECON_K-gram with the held-out eval set AS THEY ARRIVE,
    so contaminated training data never lands (the batch pass then
    only audits the backlog). The eval set is STATIC (benchmark
    suites change on release cadence, not per micro-batch): its
    distinct shingles fold to ONE broadcast array row, and each
    streaming doc intersects its own distinct-shingle array against
    it per row.

    State honesty: ZERO streaming state — the whole operator is
    stateless per-row expressions in append mode (no aggregate, no
    watermark, nothing to evict); this is the strongest scaling
    class a streaming operator can be in. Batch/stream parity by
    construction: the oracle is the batch entry's own SQL verbatim.

    Scale shape: real eval suites are tiny relative to the corpus
    (the broadcast is bounded by the benchmark suite, not the
    corpus); the intersect is O(|doc grams| · log |eval|) per row.
    For an eval set too big to broadcast, the same plan becomes a
    stream-static semi-join on the shingle key — same semantics,
    one shuffle.

    Output: doc_id, n_ngrams, n_hit_ngrams, contaminated — one row
    per TRAIN doc (eval docs don't ingest into training).
    """
    import uuid

    from ..functions.text import tokens
    from ..operators.dedup import _shingle_strs
    from ..operators.llm import DECON_EVAL_MOD, DECON_K

    work = scratch_dir("stream_dc_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    grams = F.array_distinct(_shingle_strs(F.col("ts"), DECON_K))
    ev_docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("doc_id", tokens("text").alias("ts"))
        .select(F.explode(grams).alias("sh"))
        .distinct()
    )
    ev_row = ev_docs.agg(F.collect_list("sh").alias("evs"))
    docs = spark.readStream.schema(schema).parquet(src)
    out = (
        docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .select("doc_id", tokens("text").alias("ts"))
        .select("doc_id", grams.alias("grams"))
        .crossJoin(F.broadcast(ev_row))
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_ngrams"),
            F.size(F.array_intersect("grams", "evs"))
            .cast("long")
            .alias("n_hit_ngrams"),
        )
        .withColumn(
            "contaminated", (F.col("n_hit_ngrams") > 0).cast("long")
        )
    )
    name = f"stream_dc_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "append")
    return spark.table(name)


STREAM_SAMPLE_K = 8  # bottom-K sample size per source


def bottomk_sample_stream(docs: DataFrame) -> DataFrame:
    """The bottom-K sampler's stateful core over any streaming
    (source, doc_id, ...) relation — shared by the registered entry
    and the multi-batch staging tests, so arrival-order invariance
    is pinned on the SAME code the driver runs. Priorities are
    md5-fold longs computed JVM-side before the Python state op."""
    from ..operators.dedup import _md5_fold

    pri = docs.select(
        "source",
        "doc_id",
        _md5_fold(F.col("doc_id").cast("string"), 1, 12).alias("pri"),
    )

    k = STREAM_SAMPLE_K

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (source,) = key
        if state.exists:
            pris, ids, n = state.get
            cur = list(zip(pris, ids))
        else:
            cur, n = [], 0
        for pdf in pdfs:
            n += len(pdf)
            cur.extend(zip(pdf["pri"].tolist(), pdf["doc_id"].tolist()))
        cur.sort()
        cur = cur[:k]
        state.update(
            ([p for p, _ in cur], [d for _, d in cur], n)
        )
        yield pd.DataFrame(
            {
                "source": [source] * len(cur),
                "doc_id": [d for _, d in cur],
                "pri": [p for p, _ in cur],
                "rank": list(range(1, len(cur) + 1)),
                "n_seen": [n] * len(cur),
            }
        )

    return pri.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, doc_id bigint, pri bigint, rank bigint, "
            "n_seen bigint"
        ),
        stateStructType="pris array<bigint>, ids array<bigint>, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFORM SAMPLE ON INGEST — deterministic reservoir sampling's
    distributed form (the BOTTOM-K / min-wise sample: keep the K
    docs with the smallest hash priority; because the hash is a
    fixed function of doc identity, the kept set is a uniform sample
    AND the same regardless of arrival order or batch boundaries —
    the property order-sensitive reservoir algorithms lose the
    moment two executors race). Per SOURCE, so state parallelizes
    across the key domain; the continuously-maintained sample is
    what monitoring dashboards and eval-slice builders read without
    scanning the lake.

    Custom stateful op via ``applyInPandasWithState``: state is the
    current K smallest (priority, doc_id) pairs + a seen counter —
    BOUNDED at K rows per source forever, the strongest stateful
    class after stateless. Priorities are md5-fold longs computed
    JVM-side BEFORE the Python state op (the narrow/vectorized
    split), and the oracle replays the same bottom-K with a rank
    window.

    Output (last emission per source = the full-drain sample):
    source, doc_id, pri, rank, n_seen.
    """
    import uuid

    from ..operators.dedup import _md5_fold

    work = scratch_dir("stream_bk_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs = spark.readStream.schema(schema).parquet(src)
    out = bottomk_sample_stream(docs)
    name = f"stream_bk_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "update")
    # keep only each source's FINAL emission (single-batch drains
    # emit once; multi-batch tests emit per batch — max n_seen wins)
    t = spark.table(name)
    from pyspark.sql.window import Window as _W

    return (
        t.withColumn(
            "_mx", F.max("n_seen").over(_W.partitionBy("source"))
        )
        .where(F.col("n_seen") == F.col("_mx"))
        .drop("_mx")
        .orderBy("source", "rank")
    )


def _stream_bottomk_sql() -> str:
    from ..operators.dedup import _md5_fold_sql

    return f"""
WITH pri AS (
  SELECT source, doc_id,
         {_md5_fold_sql("doc_id::VARCHAR", 1, 12)} AS pri
  FROM documents
), ranked AS (
  SELECT source, doc_id, pri,
         row_number() OVER (PARTITION BY source
                            ORDER BY pri, doc_id)::BIGINT AS rank,
         count(*) OVER (PARTITION BY source)::BIGINT AS n_seen
  FROM pri
)
SELECT source, doc_id, pri, rank, n_seen
FROM ranked WHERE rank <= {STREAM_SAMPLE_K}
ORDER BY source, rank
"""


def stream_quality_filter_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED FILTERING ON INGEST — the trained averaged-
    perceptron quality filter (``quality_filter_trained``) applied
    to a document STREAM: train once in batch (models retrain on
    release cadence, not per micro-batch), broadcast the 1-row
    weight vector, score every arriving doc per row, and emit the
    per-doc verdict — the deploy shape of every learned curation
    filter (fastText quality/language models in production crawl
    pipelines run exactly this way).

    Model identity by construction: the weight row comes from the
    SAME ``_qclf_feats_and_wavg`` build the batch filter uses, so
    batch and stream cannot score differently; the oracle re-derives
    the model end-to-end (training CTEs + averaged weights) and
    scores each doc — a full lifecycle replay on a streaming entry.

    State honesty: ZERO streaming state (stateless per-row hashing +
    dot product in append mode) — same class as
    ``stream_decontaminate``.

    Output: doc_id, lang, logit, keep — one row per doc.
    """
    import uuid

    from ..operators.llm import (
        FP_BASE,
        FP_MOD,
        QCLF_DIM,
        _qclf_feats_and_wavg,
    )

    _, wavg = _qclf_feats_and_wavg(spark, sf_dir)
    wavg = wavg.localCheckpoint()  # materialize the model ONCE
    work = scratch_dir("stream_qf_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs = spark.readStream.schema(schema).parquet(src)
    h = (
        "aggregate(filter(split(tok, ''), c -> c <> ''), 0L, "
        f"(a, c) -> (a * {FP_BASE} + ascii(c)) % {FP_MOD})"
    )
    from ..functions.text import tokens

    out = (
        docs.select(
            "doc_id", "lang", tokens(F.lower("text")).alias("ts")
        )
        .select(
            "doc_id",
            "lang",
            F.expr(f"transform(ts, tok -> ({h}) % {QCLF_DIM})").alias("bs"),
        )
        .crossJoin(F.broadcast(wavg))
        .select(
            "doc_id",
            "lang",
            F.expr(
                "aggregate(bs, 0L, (acc, b) -> "
                "acc + element_at(w, cast(b + 1 as int)))"
            ).alias("logit"),
        )
        .withColumn("keep", (F.col("logit") >= 0).cast("int"))
    )
    name = f"stream_qf_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "append")
    return spark.table(name)


def stream_dedup_docs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP DEDUP ON INGEST — the streaming form of the MinHash
    pipeline, the thing a 100 TB crawl pipeline actually wants:
    collapse near-duplicates as documents ARRIVE, before they ever
    land, instead of re-scanning the lake nightly. A document's
    32-seed integer MinHash signature (the ``dedup_minhash_int``
    hash family — md5-fold shingle identities scrambled by the fixed
    Carter-Wegman (a,b) pairs) is computed as a PURE NARROW per-row
    expression on the stream — shingle array → fold array → 32
    array_min's, no explode, no pre-aggregation shuffle (the batch
    operator's groupBy-over-exploded-shingles shape would shuffle
    every shingle row; on a stream the per-row form is free) — and
    signature-identical docs (Jaccard ≈ 1 near-dups) collapse in ONE
    keyed streaming aggregate: keeper = min(doc_id), copies counted.

    State honesty: the aggregate keys on the signature, so state is
    one row per DISTINCT signature seen — fine for a bounded drain
    (availableNow here) or a TTL'd/windowed deploy;
    an unbounded deploy caps it with dropDuplicatesWithinWatermark
    or state TTL, same plan otherwise. Docs under SHINGLE_K tokens
    have no shingles and pass through unexamined on both engines.

    Oracle: DuckDB replays shingles → folds → 32 universal-hash mins
    → signature fold → group, exactly (the integer-twin discipline,
    on a STREAMING entry).

    Output: sig, keeper_doc_id, n_copies.
    """
    import uuid

    work = scratch_dir("stream_mh_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs = spark.readStream.schema(schema).parquet(src)
    out = (
        _lsh_signature_keys(docs)
        .groupBy("sig")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    name = f"stream_mh_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def _stream_dedup_docs_minhash_sql() -> str:
    from ..operators.dedup import (
        _MINHASH_INT_AB,
        _MINHASH_INT_P,
        SHINGLE_K,
        _md5_fold_sql,
    )

    sh_expr = " || chr(31) || ".join(f"ts[i+{j}]" for j in range(SHINGLE_K))
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_INT_P})::BIGINT AS m{s}"
        for s, (a, b) in enumerate(_MINHASH_INT_AB)
    )
    sig_fold = _md5_fold_sql(
        " || ',' || ".join(f"m{s}" for s in range(len(_MINHASH_INT_AB))), 1, 12
    )
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id, {sh_expr} AS sh
  FROM arr,
       unnest(generate_series(1, greatest(len(ts) - {SHINGLE_K - 1}, 0))) AS u(i)
), hashed AS (
  SELECT doc_id, {_md5_fold_sql("sh", 1, 12)} AS h FROM win
), sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
), sigk AS (
  SELECT doc_id, {sig_fold} AS sig FROM sigs
)
SELECT sig, min(doc_id) AS keeper_doc_id, count(*)::BIGINT AS n_copies
FROM sigk GROUP BY 1
"""


def stream_dedup_docs_minhash_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WATERMARK-BOUNDED deploy form of
    ``stream_dedup_docs_minhash`` — the variant that entry's r9
    docstring deferred to ("a TTL'd/windowed deploy"), now shipped:
    the same per-row narrow integer-MinHash signature, deduped with
    ``dropDuplicatesWithinWatermark`` on the signature
    (``dedup_stream`` — the ``stream_dedup_events`` precedent), so
    state is one row per distinct signature WITHIN THE WATERMARK
    HORIZON, evicted as event time passes — bounded forever, unlike
    the verification entry's complete-mode aggregate.

    Determinism honesty: WHICH copy survives is arrival-order (the
    first processed) — not a stable id — so the output projects the
    signature column alone: the engine's guarantee is "exactly one
    survivor per signature within the horizon", and the signature
    SET is what the oracle pins (the fixture span sits far inside
    the 7-day watermark, so no eviction perturbs it; a cross-horizon
    duplicate re-emitting its signature is the documented bound, the
    batch tier's job — the same trade as ``stream_dedup_docs_lsh``).

    Output: sig (one row per distinct in-horizon signature).
    """
    import uuid

    work = scratch_dir("stream_mhb_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs = spark.readStream.schema(schema).parquet(src)
    survivors = dedup_stream(
        _lsh_signature_keys(docs),
        key="sig",
        ts_col="ev",
        watermark=LSH_WATERMARK,
    )
    name = f"stream_mhb_{uuid.uuid4().hex[:8]}"
    run_to_memory(survivors.select("sig"), name, os.path.join(work, "ckpt"), "append")
    return spark.table(name).orderBy("sig")


def _stream_dedup_docs_minhash_bounded_sql() -> str:
    from ..operators.dedup import (
        _MINHASH_INT_AB,
        _MINHASH_INT_P,
        SHINGLE_K,
        _md5_fold_sql,
    )

    sh_expr = " || chr(31) || ".join(f"ts[i+{j}]" for j in range(SHINGLE_K))
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_INT_P})::BIGINT AS m{s}"
        for s, (a, b) in enumerate(_MINHASH_INT_AB)
    )
    sig_fold = _md5_fold_sql(
        " || ',' || ".join(f"m{s}" for s in range(len(_MINHASH_INT_AB))), 1, 12
    )
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id, {sh_expr} AS sh
  FROM arr,
       unnest(generate_series(1, greatest(len(ts) - {SHINGLE_K - 1}, 0))) AS u(i)
), hashed AS (
  SELECT doc_id, {_md5_fold_sql("sh", 1, 12)} AS h FROM win
), sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
)
SELECT DISTINCT {sig_fold} AS sig FROM sigs ORDER BY sig
"""


# On-ingest near-dup horizon: a doc is checked against arrivals up to
# this many seconds of event time before it. THE state bound — a
# banded near-dup check against ALL history needs unbounded state by
# definition; bounding by recency is how every production ingest dedup
# stays finite (the nightly batch tier, dedup_minhash_int, catches
# cross-horizon pairs). Both engines mirror the bound exactly.
LSH_HORIZON_S = 86_400
# Watermark delay: bounds how LATE a doc may arrive and still be
# checked. Must be >= the max event-time disorder of the source; for
# the fixture drains (ev synthesized from doc_id, files in arbitrary
# order) 7 days covers every sf's doc_id span, so no valid pair is
# lost to lateness and the drained result is batch-split-invariant.
LSH_WATERMARK = "7 days"
_LSH_EV_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def _lsh_hashed(docs: DataFrame) -> DataFrame:
    """Shingle front of the streaming MinHash tiers: ``(doc_id, ev,
    hs)`` where ``hs`` is the per-row array of md5-fold shingle
    identities (``dedup._shingle_folds`` — the ``dedup_minhash_int``
    identities, no explode/shuffle). Works on a stream OR a static
    read of the same corpus — the exact tier's side relation derives
    from this same pipeline so the verify sets are bit-identical to
    what the band rows hashed. Docs under SHINGLE_K tokens have no
    shingles and pass through unexamined (never signed), as in every
    tier."""
    from ..functions.text import tokens
    from ..operators.dedup import SHINGLE_K, _shingle_folds

    return (
        docs.select(
            "doc_id",
            F.timestamp_seconds(
                F.lit(_LSH_EV_EPOCH) + F.col("doc_id")
            ).alias("ev"),
            tokens("text").alias("toks"),
        )
        # pre-filter on token count, not size(hs): pushing a
        # size(hs) >= 1 filter below the fold projection re-inlines
        # the tokenize into the per-element lambdas (measured 0.4 s →
        # 7.5 s on 10k docs, 16 s → <1 s for the LSH drain at sf0.1)
        .where(F.size("toks") >= SHINGLE_K)
        .select("doc_id", "ev", _shingle_folds(F.col("toks")).alias("hs"))
    )


def _lsh_signatures(docs: DataFrame) -> DataFrame:
    """``(doc_id, ev, m0..m31)``: the integer-MinHash signature as a
    PURE NARROW per-row expression — 32 ``array_min(transform(hs,
    …))`` over the fold array (``dedup._minhash_int_mins``, the batch
    twin's per-seed scramble). A stream cannot aggregate without
    state, and the per-row form shuffles nothing."""
    from ..operators.dedup import _minhash_int_mins

    return _lsh_hashed(docs).select(
        "doc_id",
        "ev",
        *_minhash_int_mins(lambda f: f"array_min(transform(hs, h -> {f('h')}))"),
    )


def _lsh_signature_keys(docs: DataFrame) -> DataFrame:
    """``(doc_id, ev, sig)``: each doc's whole 32-min signature folded
    to one md5 long (``dedup._md5_key``) — the key the signature
    dedup tiers collapse on."""
    from ..operators.dedup import _md5_key, _sig_cols

    return _lsh_signatures(docs).select(
        "doc_id", "ev", _md5_key(*_sig_cols()).alias("sig")
    )


def _lsh_shd_lookup(docs: DataFrame) -> DataFrame:
    """STATIC side relation for the exact tier's post-join verify:
    ``(doc_id, shd)`` — each doc's distinct shingle-fold set, from
    the SAME pipeline the band rows hash (``_lsh_hashed``), so the
    candidate-scoped exact Jaccard is computed over bit-identical
    sets. In a deploy this is the doc store the ingest path already
    writes (every witness pair's docs have, by definition, arrived
    and been stored by the time the pair emits)."""
    return _lsh_hashed(docs).select(
        "doc_id", F.array_distinct("hs").alias("shd")
    )


def _lsh_band_rows(
    docs: DataFrame, watermark: str, payload: str = "keys"
) -> DataFrame:
    """Document stream → watermarked banded rows
    ``(doc_id, ev[, <payload>], band, bk)`` — every step narrow
    (per-row). ``payload="keys"`` (the exact tier) carries NO
    payload: band rows are pure routing keys, and the exact-Jaccard
    verify attaches each candidate's distinct shingle-fold set from
    a static side relation AFTER the band join
    (``_lsh_shd_lookup``) — join state stays O(1) per band row
    regardless of document size. ``payload="estimated"`` carries
    ``sig`` (the 32 mins) IN state for matching-min-fraction verify
    — the tier for ingest paths with no doc-store dependency.

    The signature is ``_lsh_signatures``; the 8 band keys are the
    batch twin's md5-folded band keys (``dedup._band_keys`` with
    ``_md5_key``). Event time is synthesized from doc_id
    (deterministic fixtures); a real deploy uses ingest time.

    State honesty: the exact tier used to buffer 8 band rows × the
    full shd array per doc — 8× state amplification on the largest
    column (measured 59-115 MB of join state at sf0.1). Payload-free
    band rows cut that to 8 × ~32 bytes per doc; the price moved to
    one static-side lookup join per emitted candidate, which is the
    right trade at any corpus size (candidates ≪ band rows)."""
    from ..operators.dedup import _band_keys, _md5_key, _sig_cols

    if payload == "estimated":
        carry = [F.array(*_sig_cols()).alias("sig")]
    else:  # "keys": payload-free routing rows for the exact tier
        carry = []
    return _lsh_signatures(docs).select(
        "doc_id",
        "ev",
        *carry,
        F.posexplode(_band_keys(_md5_key)).alias("band", "bk"),
    ).withWatermark("ev", watermark)


def dedup_docs_lsh_stream(
    docs_a: DataFrame,
    docs_b: DataFrame,
    shd_of: DataFrame,
    watermark: str = LSH_WATERMARK,
    horizon_s: int = LSH_HORIZON_S,
) -> DataFrame:
    """STREAMING BANDED NEAR-DUP CORE: band-keyed stream-stream
    self-join with a bounded event-time horizon, candidate-scoped
    exact-Jaccard verify — the on-ingest form of the batch 8×4 LSH
    banding (``dedup_minhash_int``), which
    ``stream_dedup_docs_minhash`` deliberately does NOT provide (it
    collapses only signature-identical docs, J≈1; this catches
    J ≥ 0.7 near-dups as they arrive).

    Semantics: emit one witness row per (earlier doc a, later doc b,
    band) where some band's four mins agree, 0 < ev(b) − ev(a) ≤
    horizon, and exact Jaccard over distinct shingle folds ≥ the
    batch threshold. Inner-join rows emit as soon as both sides have
    arrived (append mode, no watermark wait).

    The exact verify attaches each side's distinct shingle-fold set
    from ``shd_of`` — a STATIC ``(doc_id, shd)`` relation
    (``_lsh_shd_lookup`` over the same corpus; in a deploy, the doc
    store the ingest path writes) — via two stateless stream-static
    joins AFTER the band join. Band rows therefore carry no payload
    into join state (previously each doc buffered its full shd array
    ×8 band rows — 8× state amplification on the largest column);
    the witness stream is candidates only, so the lookup joins touch
    candidates ≪ band rows. Every candidate's docs have arrived by
    emission time, so ``shd_of`` must cover them: the attach joins
    are LEFT joins and a witness whose doc is missing from ``shd_of``
    fails the query with an error naming that doc_id, instead of
    dropping the pair.

    State bound — IMPLEMENTED, not documented-away: the join
    condition bounds each side's event time against the other
    (ev_b ∈ (ev_a, ev_a + horizon]), so the engine derives per-side
    eviction horizons from the watermark — an a-row whose ev is more
    than `horizon` behind the watermark can never match a future b
    and its 8 band rows leave the state store (probed by
    tests/test_streaming.py's staged multi-batch drain via the
    state-operator metrics). An un-watermarked banded join would
    buffer the crawl in full.

    Output (streaming, append): a_id, b_id, band, jaccard.
    """
    a = docs_a.select(
        F.col("doc_id").alias("a_id"),
        F.col("ev").alias("a_ev"),
        "band",
        "bk",
    )
    b = docs_b.select(
        F.col("doc_id").alias("b_id"),
        F.col("ev").alias("b_ev"),
        F.col("band").alias("b_band"),
        F.col("bk").alias("b_bk"),
    )
    joined = a.join(
        b,
        (a["band"] == b["b_band"])
        & (a["bk"] == b["b_bk"])
        & (b["b_ev"] > a["a_ev"])
        & (b["b_ev"] <= a["a_ev"] + F.expr(f"INTERVAL {horizon_s} SECONDS")),
    )
    wit = joined.select("a_id", "b_id", "band")
    for side in ("a", "b"):
        # a LEFT join plus raise_error, not an inner join: a banded doc
        # missing from shd_of fails the query instead of silently
        # losing its pairs
        doc_id = f"{side}_id"
        missing = F.raise_error(
            F.concat(
                F.lit("shd_of does not cover banded doc_id "),
                F.col(doc_id).cast("string"),
            )
        )
        wit = (
            wit.join(
                shd_of.select(
                    F.col("doc_id").alias(doc_id), F.col("shd").alias("_shd")
                ),
                doc_id,
                "left",
            )
            .withColumn(f"{side}_shd", F.coalesce("_shd", missing))
            .drop("_shd")
        )
    shared = F.size(F.array_intersect("a_shd", "b_shd"))
    union = F.size("a_shd") + F.size("b_shd") - shared
    from ..operators.dedup import MINHASH_JACCARD_THRESHOLD

    return wit.select(
        "a_id",
        "b_id",
        "band",
        F.round(shared / union, 6).alias("jaccard"),
    ).where(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)


def stream_dedup_docs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for STREAMING BANDED NEAR-DUP DEDUP —
    the ingest-tier LSH: documents stream in, and every verified
    near-dup (J ≥ 0.7) of a doc that arrived within the horizon is
    flagged the moment it lands, with bounded state (see
    ``dedup_docs_lsh_stream``). Two independent file-stream readers
    over the staged corpus feed the two join sides (the
    ``stream_interval_join`` pattern).

    The drained witness stream is rolled up batch-side to per-doc
    verdicts — the trivial consumer step, not a stateful stream op:
    each duplicate doc, its earliest verified partner (keeper
    semantics: min doc_id), that pair's Jaccard, and how many
    distinct earlier docs witnessed it.

    Oracle: DuckDB replays every stage — shingle folds, 32
    universal-hash mins, 8 banded keys, the horizon bound as a
    doc_id inequality (ev is doc_id-synthesized, so the bound is
    exactly b − a ≤ horizon), candidate-scoped exact Jaccard, the
    same rollup (the ``dedup_minhash_int`` stage-replay discipline
    on a streaming entry).

    Output: dup_id, dup_of, jaccard, n_witnesses.
    """
    import uuid

    work = scratch_dir("stream_lsh_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs_a = _lsh_band_rows(
        spark.readStream.schema(schema).parquet(src), LSH_WATERMARK
    )
    docs_b = _lsh_band_rows(
        spark.readStream.schema(schema).parquet(src), LSH_WATERMARK
    )
    # static verify side (the "doc store"), STAGED to scratch parquet
    # once per query: a streaming query re-executes its static side
    # every microbatch (including the trailing watermark-eviction
    # batch), so an un-staged lookup re-runs the whole tokenize→
    # shingle→fold pipeline per batch inside each broadcast build —
    # measured ~2 s/drain at sf0.1. Staged, each batch's static side
    # is a tiny scan with exact stats (and the deploy shape is the
    # same: the ingest path persists the doc store to storage).
    shd_dir = os.path.join(work, "shd")
    _lsh_shd_lookup(spark.read.parquet(src)).write.mode("overwrite").parquet(
        shd_dir
    )
    pairs = dedup_docs_lsh_stream(docs_a, docs_b, spark.read.parquet(shd_dir))
    name = f"stream_lsh_{uuid.uuid4().hex[:8]}"
    run_to_memory(pairs, name, os.path.join(work, "ckpt"), "append")
    return (
        spark.table(name)
        .groupBy("b_id")
        .agg(
            F.min(F.struct(F.col("a_id"), F.col("jaccard"))).alias("m"),
            F.countDistinct("a_id").alias("n_witnesses"),
        )
        .select(
            F.col("b_id").alias("dup_id"),
            F.col("m.a_id").alias("dup_of"),
            F.col("m.jaccard").alias("jaccard"),
            "n_witnesses",
        )
        .orderBy("dup_id")
    )


def _stream_dedup_docs_lsh_sql() -> str:
    from ..operators.dedup import (
        _MINHASH_INT_AB,
        _MINHASH_INT_P,
        BAND_ROWS,
        MINHASH_JACCARD_THRESHOLD,
        N_HASHES,
        SHINGLE_K,
        _md5_fold_sql,
    )

    sh_expr = " || chr(31) || ".join(f"ts[i+{j}]" for j in range(SHINGLE_K))
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_INT_P})::BIGINT AS m{s}"
        for s, (a, b) in enumerate(_MINHASH_INT_AB)
    )
    band_keys = ",\n       ".join(
        _md5_fold_sql(
            " || ',' || ".join(
                f"m{b * BAND_ROWS + r}" for r in range(BAND_ROWS)
            ),
            1,
            12,
        )
        + f" AS bk{b}"
        for b in range(N_HASHES // BAND_ROWS)
    )
    band_or = " OR ".join(
        f"a.bk{b} = b.bk{b}" for b in range(N_HASHES // BAND_ROWS)
    )
    jac = "round(p.shared / (na.n + nb.n - p.shared), 6)"
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id, {sh_expr} AS sh
  FROM arr,
       unnest(generate_series(1, greatest(len(ts) - {SHINGLE_K - 1}, 0))) AS u(i)
), hashed AS (
  SELECT doc_id, {_md5_fold_sql("sh", 1, 12)} AS h FROM win
), sigs0 AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
       {band_keys}
  FROM sigs0
), cand AS (
  -- horizon: ev is doc_id-synthesized (epoch + doc_id s), so the
  -- event-time bound 0 < ev_b - ev_a <= H is exactly the id bound
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND b.doc_id - a.doc_id <= {LSH_HORIZON_S}
   AND ({band_or})
), shd AS (
  SELECT DISTINCT doc_id, h FROM hashed
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM shd GROUP BY 1
), pairs AS (
  SELECT c.a_id, c.b_id, count(*)::BIGINT AS shared
  FROM cand c
  JOIN shd x ON x.doc_id = c.a_id
  JOIN shd y ON y.doc_id = c.b_id AND y.h = x.h
  GROUP BY 1, 2
), jac AS (
  SELECT p.a_id, p.b_id, {jac} AS j
  FROM pairs p
  JOIN sizes na ON p.a_id = na.doc_id
  JOIN sizes nb ON p.b_id = nb.doc_id
  WHERE {jac} >= {MINHASH_JACCARD_THRESHOLD}
)
SELECT b_id AS dup_id, min(a_id) AS dup_of,
       arg_min(j, a_id) AS jaccard,
       count(*)::BIGINT AS n_witnesses
FROM jac GROUP BY 1 ORDER BY 1
"""


# Estimated-verify acceptance: n_match/32 (matching-min fraction) is
# an unbiased estimator of Jaccard, so the batch threshold J >= 0.7
# maps to the INTEGER bound n_match >= ceil(0.7 * 32) = 23 — both
# engines compare exact integers, no float verdict anywhere.
LSH_EST_MATCH_MIN = 23


def dedup_docs_lsh_stream_estimated(
    docs_a: DataFrame,
    docs_b: DataFrame,
    horizon_s: int = LSH_HORIZON_S,
) -> DataFrame:
    """The LIGHTER streaming-LSH deploy tier: identical band-keyed
    bounded join as ``dedup_docs_lsh_stream``, but verify on the 32
    mins ALONE — estimated Jaccard = matching-min fraction — so each
    doc's join state carries a fixed 32-long signature instead of its
    distinct shingle-fold SET. At crawl scale that is the difference
    between O(32) longs and O(|doc shingles|) longs per band row
    (state measured and compared in
    tests/test_streaming.py::test_lsh_estimated_tier_state_drop).

    Estimated-vs-exact disagreement band: E[n_match/32] = J with
    σ = sqrt(J(1−J)/32) ≈ 0.081 at J = 0.7, so pairs with true
    Jaccard roughly in [0.55, 0.85] can flip verdicts vs the exact
    tier (~±2σ); outside that band the two tiers agree with ≥95%
    probability per pair. Deploys that need the exact batch-parity
    verdict keep the exact tier; this one is for ingest paths where
    state size is the binding constraint.

    Output (streaming, append): a_id, b_id, band, n_match.
    """
    a = docs_a.select(
        F.col("doc_id").alias("a_id"),
        F.col("ev").alias("a_ev"),
        F.col("sig").alias("a_sig"),
        "band",
        "bk",
    )
    b = docs_b.select(
        F.col("doc_id").alias("b_id"),
        F.col("ev").alias("b_ev"),
        F.col("sig").alias("b_sig"),
        F.col("band").alias("b_band"),
        F.col("bk").alias("b_bk"),
    )
    joined = a.join(
        b,
        (a["band"] == b["b_band"])
        & (a["bk"] == b["b_bk"])
        & (b["b_ev"] > a["a_ev"])
        & (b["b_ev"] <= a["a_ev"] + F.expr(f"INTERVAL {horizon_s} SECONDS")),
    )
    n_match = F.size(
        F.expr("filter(zip_with(a_sig, b_sig, (x, y) -> x = y), v -> v)")
    ).cast("long")
    return joined.select(
        "a_id", "b_id", "band", n_match.alias("n_match")
    ).where(F.col("n_match") >= LSH_EST_MATCH_MIN)


def stream_dedup_docs_lsh_estimated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible entry for the ESTIMATED-VERIFY streaming LSH
    tier (``dedup_docs_lsh_stream_estimated``): same staged two-reader
    drain and per-doc rollup as ``stream_dedup_docs_lsh``, with the
    O(32 longs)/band-row state contract and the integer matching-min
    acceptance (n_match >= 23 of 32 ⇔ estimated J >= 0.7).

    Oracle: DuckDB replays every stage — shingle folds, 32 mins, 8
    band keys, horizon as the doc_id bound, per-pair matching-min
    COUNT (32 integer equality terms), the same rollup. Fully
    hash-exact: the verdict is an integer comparison, so unlike the
    batch ``dedup_minhash`` estimate there is no float tolerance
    anywhere.

    Output: dup_id, dup_of, n_match, n_witnesses.
    """
    import uuid

    work = scratch_dir("stream_lshe_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs_a = _lsh_band_rows(
        spark.readStream.schema(schema).parquet(src),
        LSH_WATERMARK,
        payload="estimated",
    )
    docs_b = _lsh_band_rows(
        spark.readStream.schema(schema).parquet(src),
        LSH_WATERMARK,
        payload="estimated",
    )
    pairs = dedup_docs_lsh_stream_estimated(docs_a, docs_b)
    name = f"stream_lshe_{uuid.uuid4().hex[:8]}"
    run_to_memory(pairs, name, os.path.join(work, "ckpt"), "append")
    return (
        spark.table(name)
        .groupBy("b_id")
        .agg(
            F.min(F.struct(F.col("a_id"), F.col("n_match"))).alias("m"),
            F.countDistinct("a_id").alias("n_witnesses"),
        )
        .select(
            F.col("b_id").alias("dup_id"),
            F.col("m.a_id").alias("dup_of"),
            F.col("m.n_match").alias("n_match"),
            "n_witnesses",
        )
        .orderBy("dup_id")
    )


def _stream_dedup_docs_lsh_est_sql() -> str:
    from ..operators.dedup import (
        _MINHASH_INT_AB,
        _MINHASH_INT_P,
        BAND_ROWS,
        N_HASHES,
        SHINGLE_K,
        _md5_fold_sql,
    )

    sh_expr = " || chr(31) || ".join(f"ts[i+{j}]" for j in range(SHINGLE_K))
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_INT_P})::BIGINT AS m{s}"
        for s, (a, b) in enumerate(_MINHASH_INT_AB)
    )
    band_keys = ",\n       ".join(
        _md5_fold_sql(
            " || ',' || ".join(
                f"m{b * BAND_ROWS + r}" for r in range(BAND_ROWS)
            ),
            1,
            12,
        )
        + f" AS bk{b}"
        for b in range(N_HASHES // BAND_ROWS)
    )
    band_or = " OR ".join(
        f"a.bk{b} = b.bk{b}" for b in range(N_HASHES // BAND_ROWS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END"
        for s in range(N_HASHES)
    )
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), win AS (
  SELECT doc_id, {sh_expr} AS sh
  FROM arr,
       unnest(generate_series(1, greatest(len(ts) - {SHINGLE_K - 1}, 0))) AS u(i)
), hashed AS (
  SELECT doc_id, {_md5_fold_sql("sh", 1, 12)} AS h FROM win
), sigs0 AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT *,
       {band_keys}
  FROM sigs0
), est AS (
  -- horizon: ev is doc_id-synthesized, so the event-time bound is
  -- exactly the id bound; verify = matching-min count of the 32
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         ({match_sum})::BIGINT AS n_match
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND b.doc_id - a.doc_id <= {LSH_HORIZON_S}
   AND ({band_or})
)
SELECT b_id AS dup_id, min(a_id) AS dup_of,
       arg_min(n_match, a_id) AS n_match,
       count(*)::BIGINT AS n_witnesses
FROM est WHERE n_match >= {LSH_EST_MATCH_MIN}
GROUP BY 1 ORDER BY 1
"""


def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTENANCE ON INGEST — the write path of the IVF
    family: vectors ARRIVE on a stream and are routed to their
    coarse cell right there (the posting-list append a vector DB
    does per insert), so the batch index (`similarity_ann_ivf_int`)
    stays warm without nightly rebuilds. Centroids come from the
    deterministic md5-ordered sample the batch IVF uses
    (``llm._centroid_sample``, the trained-codebook seam), folded to
    ONE row and stream-static-broadcast onto the vector stream;
    assignment is the vector kernel's ``_nearest_centroid`` —
    ``array_min`` over (d2, cid) structs, per-row, stateless, no
    shuffle before the per-cell rollup.

    The output is the index maintenance summary a deploy monitors:
    per cell, how many vectors landed and the smallest id (cell
    balance = the thing that decides when to retrain centroids).
    State is one row per cell (≤ IVF_INT_K) — bounded forever.

    Oracle: DuckDB replays quantize → centroid sample → argmin →
    per-cell rollup (a projection of the IVF twin's own oracle).

    Output: cell, n_vectors, min_vec_id.
    """
    import uuid

    from ..operators.llm import (
        IVF_INT_K,
        _centroid_sample,
        _nearest_centroid,
        _quantize,
    )

    work = scratch_dir("stream_ivf_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "embeddings", src)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # batch-side centroid build (the trained index being maintained)
    cents = _centroid_sample(_quantize(emb), IVF_INT_K)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    assigned = _nearest_centroid(_quantize(stream), cents).select(
        "vec_id", F.col("cid").alias("cell")
    )
    out = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )
    name = f"stream_ivf_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def _stream_ivf_assign_sql() -> str:
    from ..operators.llm import EMB_DIM, IVF_INT_K, PQ_INT_SCALE

    return f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * {PQ_INT_SCALE}) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
         q AS cq
  FROM (SELECT * FROM qv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_INT_K})
), d AS (
  SELECT v.vec_id, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
           i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS BIGINT) AS d2
  FROM qv v CROSS JOIN c0 c
), assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
)
SELECT cell, count(*)::BIGINT AS n_vectors, min(vec_id) AS min_vec_id
FROM assign GROUP BY 1
"""


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry: the reference's flagship pipeline
    (wordcount, main.c:50-74) run INCREMENTALLY by the streaming
    engine — readStream over the staged documents parquet →
    ``streaming_wordcount``'s running token counts → availableNow
    drain into a memory sink. Hash-checked against the identical
    batch SQL the ``wordcount`` entry uses: batch/stream parity on
    the reference's own semantics. Complete mode: the token-count
    state is vocabulary-sized (bounded), so emitting the full result
    per trigger is the honest finite-drain choice."""
    import shutil
    import uuid

    work = scratch_dir("stream_wc_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    lines = spark.readStream.schema(schema).parquet(src)
    counts = streaming_wordcount(lines, "text")
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    run_to_memory(counts, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


STREAM_TOPK = 10


def stream_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKED continuous query — the one streaming output shape the
    suite hadn't exercised: sorting + LIMIT over a streaming
    aggregate, legal exactly in complete output mode (the engine
    re-emits the full ranked result per trigger; in append/update
    modes a rank is unstable and Spark rejects the plan). The
    leaderboard every monitoring dashboard wants: top-K tokens by
    running count, ties broken by token so the K-th place is
    deterministic in both engines.

    Scale: state is the groupBy token counts (vocabulary-bounded,
    same as stream_wordcount); the sort+limit runs per trigger over
    the AGGREGATED state (|vocab| rows), not over the stream — a
    TakeOrdered on thousands of rows per micro-batch, never a
    full-data sort."""
    import uuid

    work = scratch_dir("stream_topk_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    lines = spark.readStream.schema(schema).parquet(src)
    ranked = (
        streaming_wordcount(lines, "text")
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(STREAM_TOPK)
    )
    name = f"stream_topk_{uuid.uuid4().hex[:8]}"
    run_to_memory(ranked, name, os.path.join(work, "ckpt"), "complete")
    return spark.table(name)


def state_store_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE as a queryable table (Spark 4 `statestore` data
    source) — the ops-debugging surface for stateful streams: after
    draining the incremental wordcount, its checkpoint's state store
    is read back as a DataFrame and must equal the batch wordcount
    EXACTLY (state for a streaming aggregate IS the running answer).
    This is how a production incident ("why is this key's count
    wrong?") is debugged without replaying the stream — query the
    state like any table, partition-pruned by the store's own
    partition_id.

    Output: token, cnt — hash-checked against the batch SQL.
    """
    work = scratch_dir("state_inspect_")
    src = os.path.join(work, "in")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "documents", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    lines = spark.readStream.schema(schema).parquet(src)
    counts = streaming_wordcount(lines, "text")
    import uuid

    name = f"state_ins_{uuid.uuid4().hex[:8]}"
    run_to_memory(counts, name, ckpt, "complete")
    state = spark.read.format("statestore").load(ckpt)
    # the state schema is (key: struct, value: struct, partition_id);
    # the value struct carries the aggregation BUFFER's field name
    # (`count`, not the query alias), so address fields by position
    key_f = state.schema["key"].dataType.names[0]
    val_f = state.schema["value"].dataType.names[0]
    return state.select(
        F.col(f"key.{key_f}").alias("token"),
        F.col(f"value.{val_f}").alias("cnt"),
    )


def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY with an exactly-once file sink — the
    reliability contract a 100 TB deployment actually depends on:
    a streaming query is KILLED mid-drain (after its first committed
    micro-batch, possibly mid-flight in its second), then a brand-new
    query object resumes from the same checkpoint and finishes. The
    parquet sink's commit log (``_spark_metadata``) plus the source's
    offset WAL give end-to-end exactly-once: uncommitted part files
    from the interrupted attempt stay invisible to the
    metadata-trusting reader, and replayed batches commit once. Any
    lost or doubled batch shifts the per-type counts, which the
    batch-SQL oracle hash-checks exactly.

    Output: event_type, n_events, n_users."""
    import glob
    import shutil
    import time

    from ..catalog import table as _table

    work = scratch_dir("stream_rr_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    ev = _table(spark, sf_dir, "events")
    # two staged files consumed one per micro-batch (mtime order)
    for i, half in enumerate(
        [ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)]
    ):
        d = os.path.join(work, f"half{i}")
        half.coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    file_schema = spark.read.parquet(src).schema
    ckpt = os.path.join(work, "ckpt")
    out = os.path.join(work, "out")

    def start(**trigger):
        raw = (
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        proj = raw.select("event_id", "event_type", "user_id")
        return (
            proj.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # phase 1: run until the FIRST batch has committed, then kill —
    # lastProgress only appears after a commit, so ≥1 batch is in the
    # sink log; the stop may interrupt batch 2 mid-write, which is
    # the interesting case (its orphan parts must stay invisible)
    q = start(processingTime="0 seconds")
    deadline = time.time() + 120
    while time.time() < deadline:
        exc = q.exception()
        if exc is not None:
            raise exc
        p = q.lastProgress
        if p and p.get("numInputRows", 0) > 0:
            break
        time.sleep(0.05)
    else:
        q.stop()
        raise TimeoutError("restart-recovery phase 1 never committed a batch")
    q.stop()

    # phase 2: NEW query, SAME checkpoint — finish the drain
    q2 = start(availableNow=True)
    q2.awaitTermination(120)
    exc = q2.exception()
    if exc is not None:
        raise exc

    back = spark.read.parquet(out)  # honors the _spark_metadata log
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CONTINUOUS AGGREGATE: the hourly rollup of
    ``incremental_rollup`` maintained BY THE STREAMING ENGINE —
    each micro-batch aggregates only its own rows (count/sum are
    mergeable) and ``foreachBatch`` group-sums the delta into the
    stored rollup table, producing a new generation per batch. This
    is the hypertable/materialized-view refresh loop as a stream:
    refresh cost per trigger ∝ batch rows + touched groups, history
    is never rescanned. The final generation must equal a
    from-scratch rollup over everything — the oracle computes
    exactly that, so a dropped or double-merged batch fails the
    hash.

    Output: bucket, event_type, n_events, sum_cents."""
    import glob
    import shutil

    from ..catalog import table as _table

    work = scratch_dir("stream_ir_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    ev = _table(spark, sf_dir, "events")
    for i, half in enumerate(
        [ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)]
    ):
        d = os.path.join(work, f"half{i}")
        half.coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    file_schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state: dict[str, str] = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        if "path" in state:
            delta = (
                batch_df.sparkSession.read.parquet(state["path"])
                .unionByName(delta)
                .groupBy("bucket", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_cents").alias("sum_cents"),
                )
            )
        new = os.path.join(work, f"rollup_g{batch_id}")
        delta.write.mode("overwrite").parquet(new)
        state["path"] = new

    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    exc = q.exception()
    if exc is not None:
        raise exc
    return spark.read.parquet(state["path"])


def tws_available() -> bool:
    """``transformWithStateInPandas``'s state protocol speaks
    protobuf between the Python worker and the JVM state server; the
    ``protobuf`` package is not part of this container, so the entry
    registers only where the import succeeds (any real Spark 4
    deployment ships it — it is a pyspark ``connect`` extra)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def tws_running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, spend-cents) via ``transformWithState``
    — Spark 4's REPLACEMENT for applyInPandasWithState: an object
    with an explicit lifecycle (init/handleInputRows/close) holding
    NAMED, individually-evolvable state variables (ValueState /
    ListState / MapState with optional TTL) instead of one opaque
    tuple. Requires the RocksDB state-store provider (state lives
    off-heap, snapshot+changelog checkpointed — the provider that
    holds 100 TB-scale key cardinalities) and the protobuf package
    (``tws_available``).

    Output (update log): user_id, n_events, sum_cents.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self.totals.get() if self.totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                # exact integer cents, same round(value*100) the
                # batch oracles use
                cents += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
            self.totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=Totals(),
            outputStructType="user_id BIGINT, n_events BIGINT, sum_cents BIGINT",
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for ``transformWithState`` (see
    ``tws_running_user_totals``): drain the events stream in update
    mode under the RocksDB provider, then reduce the update log to
    its final row per user — running totals are strictly monotone in
    n_events, so max(struct(n_events, sum_cents)) is the last update
    whatever the micro-batch split was, and must equal the batch
    count/sum — exact and SQL-expressible.

    Output: user_id, n_events, sum_cents.
    """
    import uuid

    work = scratch_dir("stream_tws_")
    counts = tws_running_user_totals(
        _staged_events_stream(spark, sf_dir, work)
    )
    name = f"stream_tws_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(counts, name, os.path.join(work, "ckpt"), "update")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    final = F.max(F.struct("n_events", "sum_cents")).alias("f")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("f.n_events").alias("n_events"),
            F.col("f.sum_cents").alias("sum_cents"),
        )
    )


def stream_session_close_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for TIMEOUT-DRIVEN STATE EVICTION
    (``session_close_on_timeout``): per-user session state carries
    an event-time timer at last_seen + gap, and the ENGINE's
    watermark clock — not data arrival — fires the close, emits the
    session exactly once, and removes the state. This is the state
    LIFECYCLE half of ``applyInPandasWithState`` that
    ``stream_running_counts`` (update-only, never evicts) doesn't
    exercise, and it is how bespoke stateful operators bound their
    memory on unbounded streams.

    Determinism: which sessions close can depend on where micro-batch
    boundaries fall, so the entry reduces the close log to a
    batch-split-INVARIANT fact — for every provably-idle user (last
    event + gap ≤ final watermark = max ts − delay), ALL sessions
    have closed by end-of-stream, so the per-user sum of closed
    n_events equals the user's total event count. The result is
    restricted to exactly those users, identically in the oracle;
    partially-idle users (some session closed, later events still in
    live state) are excluded on both sides. Events are staged as two
    time-split files (one per micro-batch) so the watermark advances
    mid-stream and timers actually fire; the final no-data batch
    (noDataMicroBatches) fires timers behind the end watermark.

    Output: user_id, n_events — idle users' closed-session totals.
    """
    import uuid

    from ..catalog import table as _table

    gap_us = 30 * 60 * 1_000_000
    delay_us = 3_600 * 1_000_000

    work = scratch_dir("stream_sct_")
    # shared memoized two-half staging (fixture prep); checkpoint and
    # state below stay fresh per call — that run is the operator
    src = staged_event_halves(spark, sf_dir)
    ev = _table(spark, sf_dir, "events")

    file_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    closed = session_close_on_timeout(
        stream, gap_ms=gap_us // 1000, watermark="1 hour"
    )
    name = f"stream_sct_{uuid.uuid4().hex[:8]}"
    run_to_memory(closed, name, os.path.join(work, "ckpt"), "append")
    # batch-side idle-user set: last event + gap ≤ final watermark
    wm = ev.agg((F.max(F.unix_micros("ts")) - delay_us).alias("wm_us"))
    idle = (
        ev.groupBy("user_id")
        .agg(F.max(F.unix_micros("ts")).alias("last_us"))
        .crossJoin(F.broadcast(wm))
        .filter(F.col("last_us") + gap_us <= F.col("wm_us"))
        .select("user_id")
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n_events"))
        .join(idle, "user_id", "left_semi")
    )


# bench contract: the shared two-half staging runs during warm-up so
# timed reps measure the micro-batch/state machinery, not fixture prep
stream_interval_join_outer.bench_setup = staged_event_halves
stream_session_close_timeout.bench_setup = staged_event_halves


def pattern_match_updates(events: DataFrame) -> DataFrame:
    """Stateful streaming CEP: per-user event-sequence state with the
    same regex-pattern semantics as the batch
    ``temporal.event_pattern_match``. Each update appends the batch's
    (ts, event_id, chr) records to the user's state log, re-sorts by
    event time, and re-counts every pattern on the full history — so
    the FINAL update per user equals the batch answer regardless of
    micro-batch split or cross-batch arrival order (streams deliver
    files, not timelines; sorting in-state is what makes the result
    batch-split-invariant, the property the oracle hash-checks).

    State is the user's full compact history (one char per event +
    timestamps) — the same per-user bound the batch collect_list
    carries. The documented production variant for unbounded
    retention windows keeps only the suffix a bounded-span pattern
    can still extend and evicts via event-time timeout (the
    ``session_close_on_timeout`` lifecycle); the full-history form is
    the exactness reference it would be validated against."""
    import re

    from ..operators.temporal import CEP_PATTERNS

    pats = [(name, re.compile(pat)) for name, pat in CEP_PATTERNS]
    out_cols = ", ".join(f"m_{name} bigint" for name, _ in CEP_PATTERNS)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        log, upd = state.get if state.exists else ("", 0)
        recs = []
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("int64") // 1_000  # ns → µs
            recs.extend(
                f"{t}:{e}:{c}"
                for t, e, c in zip(ts_us, pdf["event_id"], pdf["chr"])
            )
        if recs:
            log = (log + "," if log else "") + ",".join(recs)
        upd += 1
        state.update((log, upd))
        parsed = sorted(
            (int(t), int(e), c)
            for t, e, c in (r.split(":") for r in log.split(",") if r)
        )
        seq = "".join(c for _, _, c in parsed)
        row: dict[str, list] = {"user_id": [user_id], "upd": [upd]}
        for name, rx in pats:
            row[f"m_{name}"] = [len(rx.findall(seq))]
        yield pd.DataFrame(row)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=f"user_id bigint, upd bigint, {out_cols}",
        stateStructType="log string, upd bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for STREAMING CEP: drain the events
    stream through the per-user pattern-match state machine, take
    each user's LAST update (``max_by(counts, upd)`` — upd strictly
    increments per user), aggregate to the same 3-row
    (pattern, users_matched, total_matches) shape as the batch
    ``event_pattern_match``, and hash-check against the identical
    SQL oracle — the strongest batch/stream parity claim available
    for a custom stateful operator."""
    import uuid

    from ..operators.temporal import CEP_PATTERNS, _event_char

    work = scratch_dir("stream_pm_")
    ev = _staged_events_stream(spark, sf_dir, work).select(
        "user_id", "ts", "event_id", _event_char("event_type").alias("chr")
    )
    updates = pattern_match_updates(ev)
    name = f"stream_pm_{uuid.uuid4().hex[:8]}"
    run_to_memory(updates, name, os.path.join(work, "ckpt"), "update")
    last = spark.table(name).groupBy("user_id").agg(
        *[
            F.expr(f"max_by(m_{pname}, upd)").alias(f"m_{pname}")
            for pname, _ in CEP_PATTERNS
        ]
    )
    per_pattern = []
    for pname, _ in CEP_PATTERNS:
        m = F.col(f"m_{pname}")
        per_pattern.append(
            last.agg(
                F.lit(pname).alias("pattern"),
                F.sum(F.when(m > 0, 1).otherwise(0)).alias("users_matched"),
                F.sum(m).alias("total_matches"),
            )
        )
    out = per_pattern[0]
    for p in per_pattern[1:]:
        out = out.unionByName(p)
    return out.orderBy("pattern")


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL OPERATORS — two windowed aggregations in ONE
    streaming query (the Spark-4 multiple-stateful-operator support;
    pre-3.4 engines force an intermediate sink): events roll into
    15-minute buckets per type (stateful agg #1), and the bucket
    stream rolls into hourly totals via ``window_time()`` (stateful
    agg #2 — its event time IS the first window's time column). The
    two-half staged drain advances the watermark mid-stream; the
    result is then restricted — identically on both engines — to
    hourly windows whose END is at or below the final watermark
    (max ts − delay), the provably-emitted set on a finite input
    (the ``stream_interval_join_outer`` discipline).

    Output: hour_start, event_type, n_events, n_buckets.
    """
    import uuid

    from ..catalog import table as _table

    work = scratch_dir("stream_chain_")
    src = staged_event_halves(spark, sf_dir)
    file_schema = spark.read.parquet(src).schema
    ev = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    b15 = ev.groupBy(
        F.window("ts", "15 minutes").alias("w15"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n15"))
    hourly = b15.groupBy(
        F.window(F.window_time("w15"), "1 hour").alias("w1h"), "event_type"
    ).agg(
        F.sum("n15").alias("n_events"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    name = f"stream_chain_{uuid.uuid4().hex[:8]}"
    run_to_memory(hourly, name, os.path.join(work, "ckpt"), "append")
    cutoff = (
        _table(spark, sf_dir, "events")
        .agg(
            (F.max(F.unix_micros("ts")) - 3_600_000_000).alias("cutoff_us")
        )
    )
    return (
        spark.table(name)
        .crossJoin(F.broadcast(cutoff))
        .where(F.unix_micros(F.col("w1h.end")) <= F.col("cutoff_us"))
        .select(
            F.date_format(F.col("w1h.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n_events",
            "n_buckets",
        )
        .orderBy("hour_start", "event_type")
    )


_STREAM_CHAINED = """
WITH cutoff AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS c FROM events
), b15 AS (
  SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS w15, event_type,
         count(*)::BIGINT AS n15
  FROM events GROUP BY 1, 2
)
SELECT strftime(time_bucket(INTERVAL 1 HOUR, w15), '%Y-%m-%d %H:%M:%S')
         AS hour_start,
       event_type, sum(n15)::BIGINT AS n_events,
       count(*)::BIGINT AS n_buckets
FROM b15, cutoff
WHERE time_bucket(INTERVAL 1 HOUR, w15) + INTERVAL 1 HOUR <= cutoff.c
GROUP BY 1, 2 ORDER BY 1, 2
"""


def stream_merge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACTLY-ONCE MERGE into the manifest table — the
    lakehouse sink pattern (Delta's foreachBatch + txn appId→version
    idempotence): per-user event counts are upserted into a manifest
    table by a ``foreachBatch`` loop that (1) SKIPS any epoch at or
    below the table's recorded last-applied epoch for this writer,
    (2) reads current totals, adds the batch's increments
    (read-modify-write under the optimistic transaction), and (3)
    commits the merge WITH the epoch in one atomic manifest swap —
    so a replayed micro-batch (crash between sink commit and
    checkpoint advance, the classic double-apply window) cannot
    double-count. The replay is then EXERCISED, not assumed: the
    whole staged input is re-applied under the final epoch id and the
    table generation must not move.

    Output: user_id, n_events, replay_noop (1 iff the staged replay
    changed nothing).
    """
    import uuid

    from ..sources.manifest_sink import (
        MANIFEST,
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

    work = scratch_dir("stream_mm_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "events", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    path = os.path.join(work, "t")
    create_manifest_table(path)
    app_id = "user_counts_v1"

    def _totals(spark_):
        try:
            return read_manifest_table(spark_, path)
        except ValueError:
            return None  # empty table: first batch

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        if batch_id <= last_stream_epoch(path, app_id):
            return  # replayed epoch: exactly-once skip
        inc = bdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("inc"))
        cur = _totals(sp)
        if cur is None:
            updates = inc.select(
                "user_id", F.col("inc").alias("n_events")
            )
        else:
            updates = (
                inc.join(cur, "user_id", "left")
                .select(
                    "user_id",
                    (
                        F.col("inc")
                        + F.coalesce(F.col("n_events"), F.lit(0))
                    ).alias("n_events"),
                )
            )
        txn = plan_merge(sp, path, updates, ["user_id"])
        txn["op"] = "stream_merge"
        txn["epochs"] = {app_id: int(batch_id)}
        commit_transaction(path, txn)

    # ~3 micro-batches regardless of how many part files the staging
    # produced: epoch bookkeeping needs multi-batch progression, but a
    # merge-commit PER FILE on a 32-part staging is per-batch overhead
    # × 32 for no extra coverage
    n_files = sum(
        1 for f in os.listdir(src) if f.endswith(".parquet")
    )
    per_trigger = max(1, (n_files + 2) // 3)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option(
            "checkpointLocation", os.path.join(work, f"ckpt_{uuid.uuid4().hex[:8]}")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # exercise the double-apply window: replay the ENTIRE input under
    # the final epoch — the skip must hold and the generation not move
    import json as _json

    def _gen() -> int:
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            return _json.load(fh)["generation"]

    gen_before = _gen()
    apply_batch(
        spark.read.parquet(src), last_stream_epoch(path, app_id)
    )
    replay_noop = int(_gen() == gen_before)

    return (
        read_manifest_table(spark, path)
        .select(
            "user_id",
            "n_events",
            F.lit(replay_noop).alias("replay_noop"),
        )
        .orderBy("user_id")
    )


_STREAM_MERGE_MANIFEST = """
SELECT user_id, count(*)::BIGINT AS n_events, 1 AS replay_noop
FROM events GROUP BY 1 ORDER BY 1
"""


def stream_manifest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE DATA FEED over the manifest table
    (``sources/manifest_cdf.ManifestCDFStreamSource``): the offset
    axis is the table GENERATION — each micro-batch emits exactly one
    commit's row-level changes, derived by multiset-diffing the files
    that commit added against the files it removed (rows a rewrite
    merely MOVED cancel; change volume is bounded by commit size, not
    table size). The staged table takes three commits: append (gen 1,
    skipped via start_gen), an optimistic keyed MERGE (updates +
    inserts, gen 2), and a copy-on-write DELETE (gen 3); the drained
    feed is reclassified — a key appearing as both insert and delete
    within one generation is an update (pre/post images) — and rolled
    up per (gen, change_type).

    Output: gen, change_type, n_rows, sum_cents.
    """
    import uuid

    from ..sources.manifest_cdf import (
        ManifestCDFStreamSource,
        staged_cdf_table,
    )

    try:
        spark.dataSource.register(ManifestCDFStreamSource)
    except Exception:
        pass

    work = scratch_dir("stream_cdf_")
    path = staged_cdf_table(spark, sf_dir)  # gens 1-3, process-memoized

    feed = (
        spark.readStream.format("mr_manifest_cdf")
        .option("path", path)
        .option("start_gen", "1")
        .load()
    )
    name = f"stream_cdf_{uuid.uuid4().hex[:8]}"
    # drain until the committed offset reaches the current generation
    import json as _json

    from ..sources.manifest_sink import MANIFEST as _MF

    with open(os.path.join(path, _MF), encoding="utf-8") as fh:
        target_gen = _json.load(fh)["generation"]
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    _await_offset(q, "gen", target_gen, "mr_manifest_cdf")
    raw = spark.table(name)
    # update keys = (gen, k) carrying BOTH an insert and a delete —
    # one aggregate, and re-aliased to fresh names so the join back
    # onto `raw` has no conflicting memory-view lineage
    upd_keys = (
        raw.groupBy("gen", "k")
        .agg(
            F.max((F.col("change_type") == "insert").cast("int")).alias("hi"),
            F.max((F.col("change_type") == "delete").cast("int")).alias("hd"),
        )
        .where((F.col("hi") == 1) & (F.col("hd") == 1))
        .select(
            F.col("gen").alias("u_gen"),
            F.col("k").alias("u_k"),
            F.lit(1).alias("is_upd"),
        )
    )
    classified = raw.join(
        upd_keys,
        (F.col("gen") == F.col("u_gen")) & (F.col("k") == F.col("u_k")),
        "left",
    ).select(
        "gen",
        F.when(
            F.col("is_upd").isNotNull(),
            F.when(
                F.col("change_type") == "insert", F.lit("update_post")
            ).otherwise(F.lit("update_pre")),
        )
        .otherwise(F.col("change_type"))
        .alias("change_type"),
        "cents",
    )
    return (
        classified.groupBy("gen", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("gen", "change_type")
    )


_STREAM_MANIFEST_CDF = """
WITH base AS (
  SELECT o_orderkey AS k, round(o_totalprice * 100)::BIGINT AS cents
  FROM orders
), evens AS (SELECT * FROM base WHERE k % 2 = 0),
ch AS (
  SELECT 2 AS gen, 'update_pre' AS change_type, cents
  FROM evens WHERE k % 10 = 0
  UNION ALL
  SELECT 2, 'update_post', cents + 111 FROM evens WHERE k % 10 = 0
  UNION ALL
  SELECT 2, 'insert', cents FROM base WHERE k % 10 = 1
  UNION ALL
  SELECT 3, 'delete', cents FROM evens WHERE k % 14 = 0 AND k % 10 <> 0
)
SELECT gen, change_type, count(*)::BIGINT AS n_rows,
       sum(cents)::BIGINT AS sum_cents
FROM ch GROUP BY 1, 2 ORDER BY 1, 2
"""


def stream_custom_sink_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the CUSTOM PYTHON STREAMING SINK
    (DataSource ``streamWriter`` with per-epoch idempotent commits):
    the events stream writes through the sink's task-spill +
    epoch-manifest protocol, then the entry reads back ONLY
    manifest-listed files and aggregates — hash-checked against the
    batch SQL over the same table, so a lost, duplicated, or
    re-committed epoch would show up as a count mismatch. The
    exactly-once retry path is pinned separately in
    ``tests/test_sources.py`` (same batchId re-commit publishes
    nothing)."""
    import uuid

    from ..catalog import table as _table
    from ..sources.stream_sink import EpochFileStreamSink, committed_files

    spark.dataSource.register(EpochFileStreamSink)
    work = scratch_dir("stream_sink_")
    out_dir = os.path.join(work, "out")
    ev = _staged_events_stream(spark, sf_dir, work).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = (
        ev.writeStream.format("eventlog_stream_sink")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    exc = q.exception()
    if exc:
        raise exc
    files = committed_files(out_dir)
    rows = spark.read.json(files) if files else None
    if rows is None:
        raise RuntimeError("custom streaming sink published no epochs")
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA ACCOUNTING, value-checked: rows arriving
    behind the watermark are dropped, and the ENGINE'S OWN counter
    (``numRowsDroppedByWatermark``) is part of the oracle-compared
    output — a watermark regression fails the hash, not just a
    metrics dashboard.

    Staging: three mtime-ordered files — early events (before the
    split epoch), the rest (advances the watermark), then LATE
    re-deliveries (a user_id-mod subset of the early events,
    identical timestamps), processed one file per trigger so the
    late file arrives behind the watermark.

    Two ENGINE semantics discovered empirically and pinned exactly
    by the oracle (probed at sf0.01: 721 late input rows, counter
    301, +4 rows in the final output):

    1. the drop counter counts POST-PARTIAL-AGGREGATION rows — one
       per late (window) group, not per late input row;
    2. the late filter uses the PLANNING-TIME watermark (the one
       derived from data through batch N−1 — for the late batch
       that is max(EARLY ts) − delay, not the newer eviction
       watermark), so late rows for windows still OPEN in state are
       legitimately MERGED: re-deliveries landing in the early
       half's trailing unfinalized windows surface in the final
       counts. No data loss for open windows; hard drops only for
       finalized ones — exactly the contract a production pipeline
       relies on, now hash-checked.

    Output: n_late_dropped, n_windows, total_events.
    """
    import glob
    import shutil
    import uuid

    from ..catalog import table as _table

    work = scratch_dir("stream_late_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    ev = _table(spark, sf_dir, "events")
    split_us = _OUTER_SPLIT_EPOCH_US
    early = ev.where(F.unix_micros("ts") < split_us)
    stages = [
        early,
        ev.where(F.unix_micros("ts") >= split_us),
        early.where(F.col("user_id") % 7 == 0),  # late re-deliveries
    ]
    for i, part_df in enumerate(stages):
        d = os.path.join(work, f"stage{i}")
        part_df.coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    from ..catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    windows = (
        normalize_event_ts(stream)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "cnt",
        )
    )
    name = f"stream_late_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(windows, name, os.path.join(work, "ckpt"), "append")
    dropped = 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    return spark.table(name).agg(
        F.lit(dropped).cast("long").alias("n_late_dropped"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("cnt").alias("total_events"),
    )


_LATE_AUDIT_SQL = f"""
WITH wm_plan AS (
  -- planning-time watermark for the late batch: max EARLY ts - 1h
  SELECT max(epoch_us(ts)) - 3600000000 AS w_us FROM events
  WHERE epoch_us(ts) < {_OUTER_SPLIT_EPOCH_US}
), wm_fin AS (
  SELECT max(epoch_us(ts)) - 3600000000 AS w_us FROM events
), late AS (
  SELECT date_trunc('hour', ts) AS b
  FROM events
  WHERE epoch_us(ts) < {_OUTER_SPLIT_EPOCH_US} AND user_id % 7 = 0
), fin AS (
  SELECT date_trunc('hour', ts) AS b, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1
), accepted AS (
  -- late rows in windows still OPEN at the late batch's planning
  -- watermark merge into those windows (engine semantics #2)
  SELECT b, count(*)::BIGINT AS extra
  FROM late, wm_plan
  WHERE epoch_us(b + INTERVAL 1 HOUR) > wm_plan.w_us
  GROUP BY 1
), kept AS (
  SELECT f.b, f.cnt + coalesce(a.extra, 0) AS cnt
  FROM fin f LEFT JOIN accepted a ON a.b = f.b, wm_fin
  WHERE epoch_us(f.b + INTERVAL 1 HOUR) <= wm_fin.w_us
)
SELECT (SELECT count(DISTINCT late.b) FROM late, wm_plan
        WHERE epoch_us(late.b + INTERVAL 1 HOUR) <= wm_plan.w_us
       )::BIGINT AS n_late_dropped,
       count(*)::BIGINT AS n_windows,
       sum(cnt)::BIGINT AS total_events
FROM kept
"""


def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOMALY FLAGGING ON INGEST — the monitoring tier the streaming
    suite lacked: per-event-type z-score outliers flagged AS EVENTS
    ARRIVE, against a baseline TRAINED IN BATCH (baselines retrain on
    release cadence, not per micro-batch — the
    ``stream_quality_filter_trained`` model-lifecycle shape). The
    batch twin is ``outlier_zscore_orders``; this is its deploy form.

    Exactness — the z-test with ZERO floats: |x−μ|>3σ is equivalent
    to (x·n − S)² > 9·(n·Q − S²) over exact integer cents moments
    (S=Σx, Q=Σx², DECIMAL/HUGEINT-widened), so the verdict is pure
    integer arithmetic both engines evaluate identically. (Contract
    bound: the squared terms need ~2·(digits(x)+digits(n)) decimal
    digits — at per-type n beyond ~10⁹ rows re-quantize x or shard
    the baseline by time window. The bound is ASSERTED at runtime via
    raise_error so an out-of-contract input fails loudly instead of
    the decimal square silently overflowing to NULL.)

    State honesty: ZERO streaming state — a stream-static broadcast
    join of the |event-types|-row baseline onto the stream, per-row
    arithmetic, append mode (the ``stream_decontaminate`` class).

    Output: event_id, event_type, x_cents, n_base, is_anomaly.
    """
    import uuid

    work = scratch_dir("stream_az_")
    src = os.path.join(work, "in")
    os.makedirs(src, exist_ok=True)
    _copy_table_files(sf_dir, "events", src)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    x = F.round(F.col("value") * 100).cast("long")
    base = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .where(F.col("value").isNotNull())
        .select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum(F.expr("CAST(x AS decimal(38,0))")).alias("s"),
            F.sum(F.expr("CAST(x AS decimal(38,0)) * x")).alias("q"),
        )
    )
    events = spark.readStream.schema(schema).parquet(src)
    out = (
        events.where(F.col("value").isNotNull())
        .select("event_id", "event_type", x.alias("x_cents"))
        .join(F.broadcast(base), "event_type")
        .select(
            "event_id",
            "event_type",
            "x_cents",
            F.col("n_base").cast("long").alias("n_base"),
            # r10 ADVICE: past the contract bound the decimal(38,0)
            # squares would overflow to NULL silently (non-ANSI) —
            # assert the bound at runtime so divergence fails loudly.
            # |x|,n ≤ 1e9 and |S|,Q ≤ 1e18 keep every product ≤ ~4e36
            # < 10^38-1: d=x·n−S ≤ 2e18, d² ≤ 4e36; 9(n·Q−S²) ≤ ~9e27.
            F.expr(
                "CASE WHEN abs(x_cents) <= 1000000000"
                " AND n_base <= 1000000000"
                " AND abs(s) <= CAST(1e18 AS decimal(38,0))"
                " AND q <= CAST(1e18 AS decimal(38,0)) THEN"
                " CAST((CAST(x_cents AS decimal(38,0)) * n_base - s)"
                " * (CAST(x_cents AS decimal(38,0)) * n_base - s)"
                " > 9 * (CAST(n_base AS decimal(38,0)) * q - s * s)"
                " AS INT)"
                " ELSE CAST(raise_error('stream_anomaly_zscore:"
                " moments exceed the decimal(38,0) overflow-safe"
                " bound (|x_cents|,n_base<=1e9, |S|,Q<=1e18);"
                " re-quantize x or shard the baseline by window')"
                " AS INT) END"
            ).alias("is_anomaly"),
        )
    )
    name = f"stream_az_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, os.path.join(work, "ckpt"), "append")
    return spark.table(name).orderBy("event_id")


_STREAM_ANOMALY_SQL = """
WITH base AS (
  SELECT event_type, count(*)::BIGINT AS n_base,
         sum(round(value * 100)::BIGINT::HUGEINT) AS s,
         sum(round(value * 100)::BIGINT::HUGEINT
             * round(value * 100)::BIGINT) AS q
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(e.value * 100)::BIGINT AS x_cents,
       b.n_base,
       CAST((round(e.value * 100)::BIGINT::HUGEINT * b.n_base - b.s)
            * (round(e.value * 100)::BIGINT::HUGEINT * b.n_base - b.s)
            > 9 * (b.n_base::HUGEINT * b.q - b.s * b.s) AS INT)
         AS is_anomaly
FROM events e JOIN base b USING (event_type)
WHERE e.value IS NOT NULL
ORDER BY e.event_id
"""


QUERIES = {
    "stream_anomaly_zscore": stream_anomaly_zscore,
    "stream_late_data_audit": stream_late_data_audit,
    "stream_pattern_match": stream_pattern_match,
    "stream_custom_sink_totals": stream_custom_sink_totals,
    "stream_merge_manifest": stream_merge_manifest,
    "stream_chained_windows": stream_chained_windows,
    "stream_manifest_cdf": stream_manifest_cdf,
    "stream_ohlc_bars": stream_ohlc_bars,
    "stream_gopher_filter": stream_gopher_filter,
    "stream_decontaminate": stream_decontaminate,
    "stream_quality_filter_trained": stream_quality_filter_trained,
    "stream_sample_bottomk": stream_sample_bottomk,
    "stream_dedup_docs_minhash": stream_dedup_docs_minhash,
    "stream_dedup_docs_lsh": stream_dedup_docs_lsh,
    "stream_dedup_docs_minhash_bounded": stream_dedup_docs_minhash_bounded,
    "stream_dedup_docs_lsh_estimated": stream_dedup_docs_lsh_estimated,
    "stream_ivf_assign": stream_ivf_assign,
    "stream_wordcount": stream_wordcount,
    "stream_topk_words": stream_topk_words,
    "state_store_inspection": state_store_inspection,
    "stream_restart_recovery": stream_restart_recovery,
    "stream_incremental_rollup": stream_incremental_rollup,
    "stream_time_bucket": stream_time_bucket,
    "stream_dedup_events": stream_dedup_events,
    "stream_upsert_totals": stream_upsert_totals,
    "stream_session_windows": stream_session_windows,
    "stream_running_counts": stream_running_counts,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_interval_join": stream_interval_join,
    "stream_interval_join_outer": stream_interval_join_outer,
    "stream_enrich_purchases": stream_enrich_purchases,
    "stream_custom_source_counts": stream_custom_source_counts,
    "stream_session_close_timeout": stream_session_close_timeout,
}

if tws_available():  # pragma: no cover — container lacks protobuf
    QUERIES["stream_tws_user_totals"] = stream_tws_user_totals

from ..operators.temporal import ORACLES as _TEMPORAL_ORACLES  # noqa: E402
from ..operators.llm import ORACLES as _LLM_ORACLES  # noqa: E402
from ..operators.llm import _qclf_score_docs_sql as _llm_score_docs_sql  # noqa: E402

ORACLES = {
    "stream_anomaly_zscore": _STREAM_ANOMALY_SQL,
    "stream_ohlc_bars": _TEMPORAL_ORACLES["ohlc_bars"],
    "stream_gopher_filter": (
        "SELECT count(*)::BIGINT AS n_docs, sum(pass_all)::BIGINT AS n_pass, "
        "sum(1 - r_wordcount)::BIGINT AS fail_wordcount, "
        "sum(1 - r_wordlen)::BIGINT AS fail_wordlen, "
        "sum(1 - r_alpha)::BIGINT AS fail_alpha, "
        "sum(1 - r_stop)::BIGINT AS fail_stop FROM ("
        + _LLM_ORACLES["gopher_quality_rules"]
        + ")"
    ),
    "stream_late_data_audit": _LATE_AUDIT_SQL,
    # on-ingest decontamination must reproduce the batch pass's
    # verdicts row-for-row — the oracle IS the batch entry's SQL
    "stream_decontaminate": _LLM_ORACLES["decontaminate_ngram"],
    # the streaming apply must score with the batch-trained model
    # exactly — the oracle replays train + average + per-doc score
    "stream_quality_filter_trained": _llm_score_docs_sql(),
    # the on-ingest bottom-K sample must equal the batch bottom-K
    # over the same corpus — arrival-order invariance is the point
    "stream_sample_bottomk": _stream_bottomk_sql(),
    # the on-ingest near-dup collapse must reproduce the batch
    # integer-MinHash signature grouping exactly (stage-by-stage
    # replay — the dedup_minhash_int discipline on a streaming entry)
    "stream_dedup_docs_minhash": _stream_dedup_docs_minhash_sql(),
    # the on-ingest BANDED near-dup tier must reproduce, stage by
    # stage, the batch 8x4 banding + candidate-scoped exact-Jaccard
    # verify restricted to the implemented ingest horizon
    "stream_dedup_docs_lsh": _stream_dedup_docs_lsh_sql(),
    "stream_dedup_docs_lsh_estimated": _stream_dedup_docs_lsh_est_sql(),
    # the bounded deploy form guarantees exactly one survivor per
    # in-horizon signature; the deterministic contract is the SET of
    # signatures (survivor ids are arrival-order)
    "stream_dedup_docs_minhash_bounded": _stream_dedup_docs_minhash_bounded_sql(),
    # on-ingest cell routing must reproduce the batch IVF twin's
    # assignment stage exactly (same centroids, same tie-breaks)
    "stream_ivf_assign": _stream_ivf_assign_sql(),
    # streaming CEP must reproduce the batch CEP's exact totals —
    # same oracle SQL as event_pattern_match
    "stream_pattern_match": _TEMPORAL_ORACLES["event_pattern_match"],
    # every event must arrive exactly once through the epoch-manifest
    # sink — a lost/duplicated epoch breaks the counts
    "stream_custom_sink_totals": (
        "SELECT event_type, count(*)::BIGINT AS n_events, "
        "sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents "
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    "stream_merge_manifest": _STREAM_MERGE_MANIFEST,
    "stream_chained_windows": _STREAM_CHAINED,
    "stream_manifest_cdf": _STREAM_MANIFEST_CDF,
    # idle users (last event + 30 min ≤ max ts − 1 h) must have ALL
    # their sessions closed by the end watermark, so their closed
    # totals equal their plain event counts — batch-split-invariant.
    "stream_session_close_timeout": (
        "WITH wm AS (SELECT max(epoch_us(ts)) - 3600000000 AS w FROM events), "
        "u AS (SELECT user_id, max(epoch_us(ts)) AS last_us, "
        "count(*)::BIGINT AS cnt FROM events GROUP BY 1) "
        "SELECT user_id, cnt AS n_events FROM u, wm "
        "WHERE last_us + 1800000000 <= w"
    ),
    "stream_incremental_rollup": (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, "
        "event_type, count(*)::BIGINT AS n_events, "
        "sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents "
        "FROM events GROUP BY 1, 2"
    ),
    "stream_restart_recovery": (
        "SELECT event_type, count(*)::BIGINT AS n_events, "
        "count(DISTINCT user_id)::BIGINT AS n_users "
        "FROM events GROUP BY 1"
    ),
    "stream_wordcount": (
        "WITH toks AS (SELECT unnest(list_filter("
        "regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token "
        "FROM documents) "
        "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token"
    ),
    "stream_topk_words": (
        "WITH toks AS (SELECT unnest(list_filter("
        "regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token "
        "FROM documents) "
        "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token "
        f"ORDER BY cnt DESC, token LIMIT {STREAM_TOPK}"
    ),
    # the state store of a streaming aggregate IS the running answer
    "state_store_inspection": (
        "WITH toks AS (SELECT unnest(list_filter("
        "regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token "
        "FROM documents) "
        "SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token"
    ),
    "stream_time_bucket": (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, "
        "event_type, count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2"
    ),
    "stream_running_counts": (
        "SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY 1"
    ),
    # the sink's surviving row per user must be the final running
    # count == the batch total
    "stream_upsert_totals": (
        "SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY 1"
    ),
    # The doubled source must collapse back to the original table:
    # one row per event, count 1.
    "stream_dedup_events": (
        "SELECT event_id, user_id, event_type, 1::BIGINT AS n "
        "FROM events"
    ),
    # Each event belongs to the 4 epoch-aligned 15-min window starts
    # covering it: start = 15min-bucket(ts) - k*15min for k in 0..3
    # (900000000 µs = 15 min) — the same assignment rule
    # F.window('1 hour','15 minutes') applies internally.
    "stream_sliding_counts": (
        "SELECT strftime(make_timestamp(((epoch_us(ts) // 900000000) - k) "
        "* 900000000), '%Y-%m-%d %H:%M:%S') AS bucket, "
        "event_type, count(*)::BIGINT AS n_events "
        "FROM events CROSS JOIN range(4) AS t(k) GROUP BY 1, 2"
    ),
    # Only purchases below the provable-emission cutoff (batch-1
    # watermark = max first-half ts − 1 h): rows above it are
    # correctly withheld by streaming outer-join semantics.
    "stream_interval_join_outer": (
        f"WITH cut AS (SELECT max(ts) - INTERVAL 1 HOUR AS cutoff "
        f"FROM events WHERE ts < TIMESTAMP '{_OUTER_SPLIT}') "
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "p.user_id AS user_id, "
        "(epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s "
        "FROM (SELECT * FROM events WHERE event_type = 'purchase' "
        "      AND ts < (SELECT cutoff FROM cut)) p "
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c "
        "ON p.user_id = c.user_id "
        "AND c.ts >= p.ts - INTERVAL 4 HOUR AND c.ts < p.ts"
    ),
    "stream_custom_source_counts": (
        "SELECT event_type, count(*)::BIGINT AS n_events "
        "FROM events GROUP BY 1"
    ),
    "stream_enrich_purchases": (
        "SELECT coalesce(c.c_mktsegment, '<unknown>') AS segment, "
        "count(*)::BIGINT AS n_purchases, "
        "sum(round(e.value * 100)::BIGINT)::BIGINT AS sum_cents "
        "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey "
        "WHERE e.event_type = 'purchase' GROUP BY 1"
    ),
    "stream_interval_join": (
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "p.user_id AS user_id, "
        "(epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s "
        "FROM events p JOIN events c ON p.user_id = c.user_id "
        "AND p.event_type = 'purchase' AND c.event_type = 'click' "
        "AND c.ts >= p.ts - INTERVAL 4 HOUR AND c.ts < p.ts"
    ),
    # Merge-rule-exact sessionization: new session when gap >= 30 min
    # (session_window's overlap rule), session_end = last event + gap.
    "stream_session_windows": """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*)::BIGINT AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
}

if tws_available():  # pragma: no cover — container lacks protobuf
    # final update per user == batch totals, whatever the batch split
    ORACLES["stream_tws_user_totals"] = (
        "SELECT user_id, count(*)::BIGINT AS n_events, "
        "sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents "
        "FROM events GROUP BY 1"
    )


def run_to_memory(
    df: DataFrame,
    table: str,
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """Drain all currently-available input through the streaming
    plan into an in-memory table (test/debug sink): availableNow
    trigger, blocks until done. Production sinks are writeStream to
    parquet/Kafka with the same plan. The state is as wide as
    ``_drain_width`` sets it: the session's shuffle partitions, capped
    at the cores, fixed by the checkpoint's first batch."""
    spark = df.sparkSession
    try:
        with _drain_width(spark):
            q = (
                df.writeStream.format("memory")
                .queryName(table)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return q  # terminated; recentProgress still readable (metrics)
    finally:
        # the drain is done: release its state-store provider maps
        # now rather than holding them on heap until the maintenance
        # tick (see session.unload_state_providers)
        from ..session import unload_state_providers

        unload_state_providers(spark)
