"""Open-loop ingest workload: ``ingest_stream``.

A generator thread lands one pre-built parquet micro-batch in the
source directory every ``INTERVAL_S`` seconds, whether or not the
engine keeps up. One long-running query reads the directory, applies
``streaming.dedup_stream`` on the content key, and its
``foreachBatch`` keeps the newest version per key and calls
``merge_upsert`` into a manifest table. Meanwhile the driver's main
thread reads a committed key back ``READ_OFFSETS_S`` after each
measured batch is due, through ``read_manifest_table_point`` +
``point_lookup``.

The first ``WARM_BATCHES`` batches warm the running query and are not
measured: each lands when the one before it has committed, and the
measured schedule starts when all of them have.
Freshness of a measured batch runs from when it was due (not when it
landed) to the end of the ``merge_upsert`` that committed it.

Rates, from the per-batch cost measured on 4 vCPUs (one data
micro-batch, ``triggerExecution``): 400 rows cost 2.4-3.2 s and 1600
rows 2.5-4.1 s, the latter rising batch by batch as the table grows.
``ROWS`` = 400 keeps the fixed per-batch cost dominant. A data batch
and the watermark-only batch that follows it take about 4.5 s
together, so ``INTERVAL_S`` = 5 s lets a warm engine keep up with the
schedule instead of queueing. ``--seconds`` of schedule are measured:
``ceil(seconds / INTERVAL_S)`` batches after the warm-up ones.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark import sources, streaming
from cs537_spring2021_p3a_mapreduce_spark.sources import manifest_sink as ms
from perfbench import gen, oracle

INTERVAL_S = 5.0
WARM_BATCHES = 3
READ_OFFSETS_S = (1.0, 3.0)  # point reads per measured batch, after its due time
ROWS = 400
DUP_FRAC = 0.10
UPD_FRAC = 0.20
WATERMARK = "1 hour"
DRAIN_TIMEOUT_S = 60
KEY = "doc_key"

_ORACLE = """
WITH firsts AS (
  SELECT *, row_number() OVER (
    PARTITION BY lower(trim(text)) ORDER BY batch_no, ts) AS rn
  FROM read_parquet('{src}/*.parquet')
), latest AS (
  SELECT doc_key, version, text, row_number() OVER (
    PARTITION BY doc_key ORDER BY batch_no DESC, version DESC) AS r
  FROM firsts WHERE rn = 1
)
SELECT doc_key, version, text FROM latest WHERE r = 1
"""


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class IngestWorkload:
    name = "ingest_stream"

    def __init__(self):
        self.paths: list[str] = []  # batch files in arrival order
        self.keys: list[list[str]] = []  # per batch: its keys
        self.work = ""
        self.rows = ROWS
        self.interval_s = INTERVAL_S

    def generate(self, spark, work: str, seed: int, scale: float, seconds: float) -> None:
        import pyarrow.parquet as pq

        self.work = work
        self.rows = max(int(ROWS * scale), 20)
        n_batches = WARM_BATCHES + max(math.ceil(seconds / INTERVAL_S), 2)
        d = os.path.join(work, "pending")
        os.makedirs(d)
        self.paths = gen.ingest_batches(spark, d, seed, n_batches, self.rows,
                                        DUP_FRAC, UPD_FRAC)
        self.keys = [pq.read_table(p, columns=[KEY])[KEY].to_pylist() for p in self.paths]

    def bench_setup(self, spark) -> None:
        """No operator in this workload registers a set-up hook."""

    def run_window(self, spark, trace: bool) -> dict:
        """Land every batch on schedule, read beside the writes, and
        drain. With ``trace`` the reads of every other measured batch
        are recorded as spans."""
        src, sink, ckpt = (os.path.join(self.work, x) for x in ("src", "sink", "ckpt"))
        os.makedirs(src)
        ms.create_manifest_table(sink)
        res = {"merge": [], "reads": {False: [], True: []}, "read_spans": [],
               "read_wrong": 0, "failures": [], "due": [], "landed": [],
               "committed_at": {}, "rows": {}, "batch_nos": {},
               "src": src, "sink": sink, "ckpt": ckpt}
        lock = threading.Lock()

        def upsert(batch_df, batch_id):
            batch_df.persist()
            try:
                counts = batch_df.groupBy("batch_no").count().collect()
                if not counts:  # a no-data batch that only moves the watermark
                    return
                newest = Window.partitionBy(KEY).orderBy(F.col("version").desc())
                latest = (
                    batch_df.withColumn("_r", F.row_number().over(newest))
                    .filter("_r = 1")
                    .select(KEY, "version", "text")
                )
                m0 = time.time()
                ms.merge_upsert(spark, sink, latest, [KEY])
                m1 = time.time()
            finally:
                batch_df.unpersist()
            with lock:
                res["merge"].append((batch_id, m0, m1))
                res["batch_nos"][batch_id] = [int(r["batch_no"]) for r in counts]
                for r in counts:
                    res["committed_at"][int(r["batch_no"])] = m1
                    res["rows"][int(r["batch_no"])] = int(r["count"])

        stream = spark.readStream.schema(gen.INGEST_SCHEMA_DDL).parquet(src)
        deduped = streaming.dedup_stream(stream, streaming.content_key("text"), "ts", WATERMARK)
        q = (
            deduped.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        t0 = time.time() + 0.5
        res["t0"] = t0
        stop = threading.Event()

        def land():
            due = t0
            for i, p in enumerate(self.paths):
                if 0 < i <= WARM_BATCHES:
                    # warm-up batches land one after another as each commits;
                    # the measured schedule starts once all of them have,
                    # however long the cold start took
                    while len(res["committed_at"]) < i:
                        if stop.wait(0.05):
                            return
                    due = time.time() + (0.5 if i == WARM_BATCHES else 0.0)
                if stop.wait(max(0.0, due - time.time())):
                    return
                os.rename(p, os.path.join(src, os.path.basename(p)))
                res["due"].append(due)
                res["landed"].append(time.time())
                due += INTERVAL_S

        lander = threading.Thread(target=land, daemon=True)
        lander.start()
        try:
            self._read_loop(spark, sink, q, res, lock, trace)
        finally:
            stop.set()
            lander.join()
            exc = q.exception()
            if exc is None and q.isActive:
                q.processAllAvailable()
            progress = [json.loads(p.json) if hasattr(p, "json") else p
                        for p in q.recentProgress]
            q.stop()
        if exc is not None:
            res["failures"].append(f"stream: {exc!r}"[:300])
        res["progress"] = progress
        res["input_bytes"] = _dir_bytes(src)
        return res

    def _read_loop(self, spark, sink, q, res, lock, trace) -> None:
        n_batches = len(self.paths)
        deadline = None
        k = 0
        while True:
            with lock:
                done = sorted(res["committed_at"])
            if len(done) == n_batches or q.exception() is not None or not q.isActive:
                return
            now = time.time()
            if len(res["landed"]) == n_batches and deadline is None:
                deadline = now + DRAIN_TIMEOUT_S
            if deadline is not None and now > deadline:
                res["failures"].append("stream: drain timed out")
                return
            # read k is due at a fixed offset from a measured batch's due
            # time, so reads meet the same point of every batch's work
            b = WARM_BATCHES + k // len(READ_OFFSETS_S)
            slot = (res["due"][b] + READ_OFFSETS_S[k % len(READ_OFFSETS_S)]
                    if b < len(res["due"]) else None)
            if slot is None or now < slot or not done:
                time.sleep(0.05 if slot is None else min(0.05, max(0.0, slot - now)))
                continue
            keys = self.keys[done[k % len(done)]]
            key = keys[(k * 7919) % len(keys)]
            # a measured batch's reads are all traced or all untraced, in
            # turn, so both kinds meet every offset slot
            traced = trace and (k // len(READ_OFFSETS_S)) % 2 == 1
            k += 1
            r0 = time.time()
            try:
                df = ms.read_manifest_table_point(spark, sink, KEY, "string", key)
                got = sources.point_lookup(df, KEY, key).collect()
            except Exception as exc:
                res["failures"].append(f"read {key}: {exc!r}"[:300])
                continue
            r1 = time.time()
            res["reads"][traced].append(r1 - r0)
            if len(got) != 1:
                res["read_wrong"] += 1
            if traced:
                res["read_spans"].append((r0, r1, key))

    def processing_s(self, res: dict) -> float:
        """Engine time spent on the measured batches: ``triggerExecution``
        of every micro-batch from the one holding the first measured batch
        to the one holding the last, the watermark-only batches between
        them included."""
        ids = [bid for bid, nos in res["batch_nos"].items()
               if any(n >= WARM_BATCHES for n in nos)]
        if not ids:
            return 0.0
        lo, hi = min(ids), max(ids)
        ms_by_id = {p["batchId"]: p["durationMs"].get("triggerExecution", 0)
                    for p in res["progress"]
                    if "addBatch" in p["durationMs"] and lo <= p["batchId"] <= hi}
        return sum(ms_by_id.values()) / 1000

    def freshness(self, res: dict) -> list[float]:
        return [res["committed_at"][b] - res["due"][b]
                for b in sorted(res["committed_at"])
                if WARM_BATCHES <= b < len(res["due"])]

    def check(self, spark, res: dict, corrupt: bool) -> tuple[list[str], dict]:
        """Final sink vs the DuckDB dedup-then-upsert of every batch that
        arrived; also the sink's footprint against one compact write."""
        con = oracle.duck_con(self.work)
        want = con.execute(_ORACLE.format(src=res["src"])).fetchdf()
        con.close()
        live = ms.read_manifest_table(spark, res["sink"])
        got = live.toPandas()
        if corrupt and len(got):
            got = got.iloc[1:]
        wrong = [f"sink: {p}" for p in oracle.problems("ingest_stream", got, want)][:3]
        compact = res["sink"] + "_compact"
        live.coalesce(1).write.parquet(compact)
        foot = {
            "live_files": len(live.inputFiles()),
            "files_written": len(glob.glob(os.path.join(res["sink"], "*.parquet"))),
            "sink_bytes": _dir_bytes(res["sink"]),
            "ckpt_bytes": _dir_bytes(res["ckpt"]),
            "compact_bytes": _dir_bytes(compact),
        }
        return wrong, foot
