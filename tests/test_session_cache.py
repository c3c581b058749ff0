"""Persisted-frame lifecycle: operators persist reused diamonds via
session.track_persist(); the query registry releases the previous
query's entries at each call so a long-lived session (the driver's
gate, bench.py) never accumulates cache entries across hundreds of
queries (r4 ADVICE item: _kmeans_cents et al. persisted without ever
unpersisting)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.session import (
    _TRACKED_PERSISTS,
    release_persisted,
    release_tracked,
    track_persist,
)

SF = "/root/testdata/sf0.001"


def test_track_persist_registers_and_releases(spark):
    release_persisted()  # clean slate
    df = track_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.storageLevel != StorageLevel.NONE
    assert len(_TRACKED_PERSISTS) == 1
    assert df.count() == 100
    assert release_persisted() == 1
    assert not _TRACKED_PERSISTS
    assert df.storageLevel == StorageLevel.NONE
    # unpersisted lineage recomputes — release is never a correctness event
    assert df.count() == 100


def test_registry_releases_between_queries(spark):
    import __spark_entry__ as em

    release_persisted()
    qs = em.queries()
    # dedup_minhash persists two frames (candidates + candidate shingles)
    qs["dedup_minhash"](spark, SF).collect()
    assert len(_TRACKED_PERSISTS) >= 1
    n_before = len(_TRACKED_PERSISTS)
    # the NEXT registry call releases the previous query's entries first
    qs["wordcount"](spark, SF).collect()
    assert len(_TRACKED_PERSISTS) < n_before
    release_persisted()


def test_every_persist_site_is_tracked():
    """No operator may call .persist() directly — track_persist is the
    only route, so release_persisted() can see every cache entry."""
    import pathlib

    pkg = pathlib.Path("cs537_spring2021_p3a_mapreduce_spark")
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name == "session.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".persist(" in line and "track_persist" not in line:
                offenders.append(f"{py}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_session_shuffle_widths(spark):
    """Streaming state and foreachBatch frames shuffle one partition per
    core; batch plans still start 32 wide for AQE to coalesce."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )
    assert spark._jsparkSession.sessionState().conf().numShufflePartitions() == 32


def test_cached_aggregate_scan_is_coalesced(spark):
    """A persisted small aggregate keeps the partitioning AQE coalesced
    it to, so a later scan of it runs a few tasks, not one per initial
    shuffle partition (32)."""
    sc = spark.sparkContext
    df = track_persist(
        spark.range(400).groupBy((F.col("id") % 300).alias("k")).count()
    )
    try:
        assert df.count() == 300  # materializes the cache
        sc.setJobGroup("cached-scan-width", "scan a persisted aggregate")
        try:
            assert len(df.where(F.col("count") > 0).collect()) == 300
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        tasks = sum(
            tracker.getStageInfo(stage).numTasks
            for job in tracker.getJobIdsForGroup("cached-scan-width")
            for stage in tracker.getJobInfo(job).stageIds
        )
    finally:
        release_tracked(df)
    assert 0 < tasks < 32, tasks


def test_python_tasks_keep_cached_zip_importers(spark):
    """get_spark's workers fork from _pydaemon: the per-task
    invalidate_caches() leaves cached zip importers' directories as
    they were instead of re-reading them (140-230 ms of CPU per task)."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        from pyspark import worker_util

        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        files = [z._files for z in zips]
        worker_util.importlib.invalidate_caches()
        kept = all(z._files is f for z, f in zip(zips, files))
        for _ in batches:
            pass
        yield pd.DataFrame({
            "shim": [type(worker_util.importlib).__name__],
            "zips": [len(zips)],
            "kept": [kept],
        })

    rows = spark.range(1).mapInPandas(
        probe, "shim string, zips int, kept boolean"
    ).collect()
    assert rows
    assert all(r.shim == "_Importlib" and r.zips > 0 and r.kept for r in rows)
