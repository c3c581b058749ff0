"""Custom BATCH SINK via the Python DataSource writer API, with a
real two-phase commit: executors write uniquely-named parquet part
files and return commit messages; the driver's ``commit()`` makes
exactly the acknowledged files visible by writing a ``_MANIFEST``
json in one atomic rename. Readers that trust only the manifest see
each row exactly once no matter how many task attempts wrote stray
files — the visibility protocol every table format (Delta, Iceberg,
Hive-style _SUCCESS) builds on, here in its minimal honest form.

Completes the connector-seam story: custom batch source
(``linescan``), custom streaming source (``eventlog_stream``),
custom sink (this) — the reference's A10 sink contract
(hashmap.c:21-56) generalized to a commit-protocol sink.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)

MANIFEST = "_MANIFEST"

# Commit-lock tuning: acquisition retries for up to ~10 s (commit
# crit-section is a tiny json merge + rename, so contention clears in
# ms), and a lock file whose mtime is older than 60 s is presumed
# orphaned by a crashed driver and broken. A LIVE committer slower
# than the stale window is protected by the heartbeat below: the
# holder refreshes the lock's mtime at _LOCK_STALE_S/4 cadence, so
# only a committer whose PROCESS died (heartbeat stopped) ever looks
# stale to a contender.
_LOCK_TIMEOUT_S = 10.0
_LOCK_STALE_S = 60.0


@contextlib.contextmanager
def _commit_lock(dir_path: str):
    import threading
    import time

    lock = os.path.join(dir_path, f".{MANIFEST}.lock")
    deadline = time.monotonic() + _LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > _LOCK_STALE_S:
                    os.remove(lock)  # orphaned by a crashed committer
                    continue
            except OSError:
                continue  # raced: owner released or broke it first
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"manifest commit lock busy for {_LOCK_TIMEOUT_S}s: {lock}"
                )
            time.sleep(0.05)
    # Heartbeat: keep the lock's mtime fresh while the critical
    # section runs, so a commit that legitimately outlives
    # _LOCK_STALE_S (huge manifest, slow disk) is not "broken" as
    # orphaned by a contender. Daemon thread; stops on release.
    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(_LOCK_STALE_S / 4):
            try:
                os.utime(lock)
            except OSError:
                return  # lock gone: released or stolen; nothing to keep alive

    beater = threading.Thread(target=_beat, daemon=True)
    beater.start()
    try:
        yield
    finally:
        stop.set()
        beater.join()
        try:
            os.remove(lock)
        except OSError:
            pass


class ConcurrentWriteConflictError(RuntimeError):
    """A transaction's base snapshot was superseded by an OVERLAPPING
    commit — the Delta ConcurrentDeleteDeleteException / Iceberg
    ValidationException class. Raised at commit time, under the lock,
    after snapshot-diff conflict detection; the staged part files are
    left uncommitted (manifest-invisible) for the caller to retry or
    clean."""

    def __init__(self, base_generation: int, conflicting_generation: int,
                 overlap: set[str] | None = None, reason: str = ""):
        self.base_generation = base_generation
        self.conflicting_generation = conflicting_generation
        self.overlap = overlap or set()
        super().__init__(
            f"transaction based on generation {base_generation} conflicts "
            f"with committed generation {conflicting_generation}: "
            + (reason or f"both remove/rewrite {sorted(self.overlap)}")
        )


def _snapshot_files(path: str, gen: int) -> set[str]:
    with open(
        os.path.join(path, f"{MANIFEST}.g{gen}"), encoding="utf-8"
    ) as fh:
        return {e["file"] for e in json.load(fh)["files"]}


def commit_transaction(path: str, txn: dict) -> int:
    """OPTIMISTIC concurrent-writer commit — the multi-writer contract
    every real lake needs eventually (Delta's ConcurrentModification
    checks, Iceberg's snapshot validation), in the repo's minimal
    honest form. The commit lock gives mutual EXCLUSION; this adds
    conflict DETECTION on top: a transaction records the generation
    its reads were based on (``base_generation``) plus the files it
    removes/rewrites, and at commit time, under the lock, every
    generation committed since the base is snapshot-diffed
    (removed(g) = files(g−1) − files(g), derivable because commits
    snapshot themselves):

    - an intervening commit REMOVED a file this transaction also
      removes/rewrites → both rewrote the same data → ABORT
      (``ConcurrentWriteConflictError``);
    - an intervening OVERWRITE replaced the whole listing → the base
      snapshot is gone entirely → ABORT;
    - otherwise the transactions are file-disjoint → REBASE: apply
      this transaction's remove/add on top of the LATEST listing (so
      a concurrent append's files are carried, never clobbered — the
      lost-update the pre-transaction delete_where had).

    File-level granularity is Delta's WriteSerializable default: a
    disjoint concurrent append whose rows would have matched this
    transaction's predicate is carried, not re-filtered (the append
    serializes AFTER the delete). A vacuumed (missing) intervening
    snapshot aborts conservatively — disjointness can no longer be
    proven.

    ``txn`` keys: ``base_generation`` (int), ``remove_files``
    (list[str]), ``add_entries`` (list of manifest file entries),
    ``op`` (str, recorded in the committed doc). Returns the new
    generation number.
    """
    _require_local(path, "commit_transaction")
    remove = set(txn["remove_files"])
    with _commit_lock(path):
        manifest_path = os.path.join(path, MANIFEST)
        with open(manifest_path, encoding="utf-8") as fh:
            cur = json.load(fh)
        cur_gen = cur.get("generation", 0)
        base = txn["base_generation"]
        for g in range(base + 1, cur_gen + 1):
            try:
                with open(
                    os.path.join(path, f"{MANIFEST}.g{g}"), encoding="utf-8"
                ) as fh:
                    snap = json.load(fh)
                if snap.get("op") == "overwrite":
                    raise ConcurrentWriteConflictError(
                        base, g, reason="an intervening OVERWRITE replaced "
                        "the entire listing this transaction was based on"
                    )
                # prefer the commit's RECORDED remove set (Delta's log
                # records remove actions explicitly): a deletion-vector
                # commit removes and re-ADDS the same file name (entry
                # replaced, DV appended), so the listing diff below
                # would be empty and two DV deletes of the same file
                # would silently both land. Fall back to the snapshot
                # diff for commits that predate the recording.
                if "removed" in snap:
                    removed_g = set(snap["removed"])
                else:
                    removed_g = (
                        _snapshot_files(path, g - 1) if g > 1 else set()
                    ) - {e["file"] for e in snap["files"]}
            except FileNotFoundError:
                raise ConcurrentWriteConflictError(
                    base, g, reason="intervening snapshot was vacuumed; "
                    "file-disjointness can no longer be proven"
                ) from None
            overlap = removed_g & remove
            if overlap:
                raise ConcurrentWriteConflictError(base, g, overlap)
        # a VACUUM that ran while this transaction was staged may have
        # reclaimed its manifest-invisible part files (vacuum deletes
        # every unreferenced parquet); publishing a listing that names
        # vacuumed files would be a torn table — abort loudly instead.
        gone = [
            f
            for e in txn["add_entries"]
            for f in (e["file"], *e.get("dvs", []))
            if not os.path.exists(os.path.join(path, f))
        ]
        if gone:
            raise ConcurrentWriteConflictError(
                base,
                cur_gen,
                reason="transaction's staged files were vacuumed while "
                f"in flight: {sorted(set(gone))[:5]}",
            )
        # disjoint: rebase onto the LATEST listing
        new_files = [
            e for e in cur["files"] if e["file"] not in remove
        ] + txn["add_entries"]
        generation = cur_gen + 1
        doc = {
            "generation": generation,
            "files": new_files,
            "op": txn.get("op", "txn"),
            "base_generation": base,
            # explicit remove actions for conflict detection: the
            # listing diff alone cannot see same-name entry
            # replacements (deletion-vector commits)
            "removed": sorted(remove),
        }
        # streaming exactly-once bookkeeping (the Delta txn
        # appId→version idempotence contract): per-writer last-applied
        # epoch, carried forward through every commit and rebased like
        # the listing, so a REPLAYED foreachBatch epoch is detectable
        # no matter which commits landed in between.
        epochs = {**cur.get("epochs", {}), **txn.get("epochs", {})}
        if epochs:
            doc["epochs"] = epochs
        tmp = os.path.join(path, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        snap_path = os.path.join(path, f"{MANIFEST}.g{generation}")
        tmp_snap = f"{snap_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp_snap, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        os.replace(tmp_snap, snap_path)
        os.replace(tmp, manifest_path)
        return generation


def _require_local(path: str, op: str) -> None:
    """The whole commit protocol here (O_CREAT|O_EXCL lock files,
    os.replace publish) is atomic ONLY on a local/POSIX filesystem.
    On S3-class object stores neither primitive exists — the correct
    seam is a CONDITIONAL PUT (S3 `If-None-Match: *` for the lock /
    `If-Match: <etag>` for the manifest CAS, GCS
    `x-goog-if-generation-match`, ADLS ETag preconditions), i.e. the
    log-version CAS Delta/Iceberg run against a catalog. That client
    isn't available in this environment, so remote URIs fail loudly
    here (same contract as ``upsert_keyed_parquet``'s guard) instead
    of racing silently at 100 TB."""
    if "://" in path and not path.startswith("file:"):
        raise NotImplementedError(
            f"{op} commits via local-FS atomic rename; got remote URI "
            f"{path!r}. Remote stores need the conditional-PUT commit "
            "strategy — implemented and tested against an in-memory "
            "CAS double in sources/objectstore.py "
            "(commit_files_conditional_put); plug a boto3/gcs client "
            "with the same three primitives into that seam."
        )


class PartFileCommit(WriterCommitMessage):
    def __init__(
        self,
        filename: str,
        n_rows: int,
        stats: dict | None = None,
        sha256: str | None = None,
    ):
        self.filename = filename
        self.n_rows = n_rows
        # per-column {name: [min, max]} ZONE MAP for the file —
        # JSON-safe scalars only (ints/floats/strings); commit()
        # publishes them so readers can skip files by predicate
        self.stats = stats or {}
        # content digest of the WRITTEN bytes: the manifest becomes a
        # bit-rot detector (integrity_audit) — at lake scale silent
        # disk/object-store corruption is a when, not an if
        self.sha256 = sha256


class ManifestParquetSink(DataSource):
    """``df.write.format("mr_manifest").option("path", dir).save()``"""

    @classmethod
    def name(cls) -> str:
        return "mr_manifest"

    def writer(self, schema, overwrite: bool) -> "ManifestParquetWriter":
        return ManifestParquetWriter(self.options, schema, overwrite)


class ManifestParquetWriter(DataSourceArrowWriter):
    """Arrow-vectorized: rows arrive as RecordBatches (no per-row
    Python objects), streamed straight into a parquet writer — the
    same zero-copy shape a production connector uses."""

    def __init__(self, options, schema, overwrite: bool = False):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("mr_manifest requires option('path', <dir>)")
        _require_local(self.dir, "mr_manifest sink")
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator) -> PartFileCommit:
        # Executor side. A unique name per task ATTEMPT: a retried or
        # speculative attempt leaves an orphan file that commit()
        # never acknowledges — readers trusting the manifest are
        # unaffected, which is the whole point.
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self.dir, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        writer = None
        n = 0
        stats: dict[str, list] = {}
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(self.dir, fname), batch.schema
                    )
                writer.write_batch(batch)
                n += batch.num_rows
                # streaming ZONE-MAP accumulation: per-column min/max
                # over orderable scalar types (Arrow kernels, no rows
                # materialized). JSON-safe values only.
                for col in batch.schema.names:
                    arr = batch.column(col)
                    t = arr.type
                    import pyarrow as pa

                    if not (
                        pa.types.is_integer(t)
                        or pa.types.is_floating(t)
                        or pa.types.is_string(t)
                        or pa.types.is_large_string(t)
                    ):
                        continue
                    mm = pc.min_max(arr)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is None:
                        continue
                    if col in stats:
                        stats[col] = [min(stats[col][0], lo), max(stats[col][1], hi)]
                    else:
                        stats[col] = [lo, hi]
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            # empty partition: no file, commit message carries 0 rows
            return PartFileCommit("", 0)
        import hashlib as _hl

        h = _hl.sha256()
        with open(os.path.join(self.dir, fname), "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        return PartFileCommit(fname, n, stats, h.hexdigest())

    def commit(self, messages) -> None:
        # Driver side, runs once after every task succeeded: the
        # manifest names exactly the acknowledged files. Single
        # atomic rename = no torn visibility. APPEND must carry the
        # previous manifest's files forward — replacing it would
        # orphan every previously committed row (their part files
        # stay on disk but turn invisible); OVERWRITE replaces the
        # listing, which retires the old files from view without a
        # physical delete (the table-format convention: vacuuming is
        # a separate concern).
        #
        # The append path is a read-modify-write of _MANIFEST, so two
        # concurrent append commits could both read the same prior
        # listing and the later os.replace would silently drop the
        # earlier job's files from view. A short exclusive lock
        # (O_CREAT|O_EXCL — atomic on every local fs) serializes just
        # this merge+replace window; overwrite commits take it too so
        # an overwrite can't interleave with an append's read.
        # Production table formats solve the same race with
        # log-version CAS (Delta) or catalog swap (Iceberg).
        with _commit_lock(self.dir):
            files = [
                {
                    "file": m.filename,
                    "n_rows": m.n_rows,
                    "stats": getattr(m, "stats", {}),
                    "sha256": getattr(m, "sha256", None),
                }
                for m in messages
                if m is not None and m.filename
            ]
            manifest_path = os.path.join(self.dir, MANIFEST)
            generation = 1
            if os.path.exists(manifest_path):
                with open(manifest_path, encoding="utf-8") as fh:
                    prev = json.load(fh)
                generation = prev.get("generation", 0) + 1
                if not self.overwrite:
                    files = prev["files"] + files
            # op is recorded so optimistic transactions can detect an
            # intervening whole-listing replace (commit_transaction)
            doc = {
                "generation": generation,
                "files": files,
                "op": "overwrite" if self.overwrite else "append",
            }
            if os.path.exists(manifest_path) and prev.get("epochs"):
                # streaming writers' exactly-once bookkeeping survives
                # batch commits (Delta keeps txn versions across both)
                doc["epochs"] = prev["epochs"]
            # every commit also snapshots itself as _MANIFEST.g<N>:
            # TIME TRAVEL in its minimal honest form — old generations
            # stay readable because commits never delete part files
            # (overwrite retires them from the LATEST view only; the
            # snapshot still names them), which is exactly how Delta's
            # log versions / Iceberg's snapshots make AS OF work.
            tmp = os.path.join(self.dir, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(doc, fh)
            snap = os.path.join(self.dir, f"{MANIFEST}.g{generation}")
            tmp_snap = f"{snap}.{uuid.uuid4().hex}.tmp"
            with open(tmp_snap, "w", encoding="utf-8") as fh:
                json.dump(doc, fh)
            os.replace(tmp_snap, snap)
            os.replace(tmp, manifest_path)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.dir, m.filename))
                except OSError:
                    pass


def _refuse_dv(entries: list[dict], op: str) -> None:
    """Copy-on-write rewrites read part files RAW, so running one
    over a listing that carries deletion vectors would RESURRECT the
    DV-deleted rows into the rewritten files. Purge first
    (``purge_deletion_vectors``) or stay on the merge-on-read path
    (``delete_where_dv``)."""
    if any(e.get("dvs") for e in entries):
        raise NotImplementedError(
            f"{op} on a listing carrying deletion vectors would "
            "resurrect DV-deleted rows; run purge_deletion_vectors "
            "first or use delete_where_dv"
        )


def _read_files(spark, path: str, names: list[str]):
    """One scan over listed part files (relative names, or the absolute
    paths a shallow clone lists), their footers' schemas MERGED: files
    committed before an additive schema change read NULL for the new
    columns instead of a one-file schema silently dropping them."""
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f) for f in names]
    )


def _stage_files(df, path: str, prefix: str = "part-") -> list[dict]:
    """Write ``df`` in ONE job to scratch and adopt every non-empty
    part file into the table directory under a unique name — staged,
    manifest-invisible until a commit lists them. Returns their
    manifest entries, ``n_rows`` read from each file's parquet footer
    (no ``count()`` job). The caller decides the file layout:
    ``coalesce(1)`` for one file, or the plan's own partitioning."""
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tmpdir = tempfile.mkdtemp(prefix="mstage_")
    try:
        df.write.mode("overwrite").parquet(tmpdir)
        entries = []
        for written in sorted(glob.glob(os.path.join(tmpdir, "part-*.parquet"))):
            n = pq.read_metadata(written).num_rows
            if n == 0:
                continue  # the schema-only file of an all-empty write
            name = f"{prefix}{uuid.uuid4().hex}.parquet"
            shutil.move(written, os.path.join(path, name))
            entries.append({"file": name, "n_rows": n})
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return entries


def plan_delete(spark, path: str, condition: str) -> dict:
    """Phase 1 of copy-on-write DELETE as an optimistic TRANSACTION:
    scan at the current generation (the transaction's BASE), then
    rewrite only the files that actually CONTAIN matching rows,
    without their matches, in ONE write job: every hit file's
    survivors are staged together, packed per input split (one output
    file per split, bounded by ``maxPartitionBytes``), with row counts
    read from the written footers — no ``count()`` job. Staged files
    are unique-named and manifest-invisible until commit. Returns the
    staged transaction for ``commit_transaction``; a conflict abort
    leaves only invisible strays (clean with ``abort_transaction``)."""
    _require_local(path, "plan_delete")
    from pyspark.sql import functions as F

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    _refuse_dv(manifest["files"], "plan_delete")
    base_generation = manifest.get("generation", 0)
    files = [f["file"] for f in manifest["files"]]
    full = [os.path.join(path, f) for f in files]
    # which files contain matches — one filtered scan, file-grouped;
    # parquet min-max pruning applies to the scan itself
    hit_rows = (
        spark.read.parquet(*full)
        .where(condition)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hit_base = {os.path.basename(r.f.removeprefix("file:")) for r in hit_rows}
    # match on BASENAME: a shallow clone's listing references source
    # files by absolute path while input_file_name reports the same
    # file — names are uuid-unique, so basename matching is exact
    hit_files = [f for f in files if os.path.basename(f) in hit_base]
    add_entries = [] if not hit_files else _stage_files(
        _read_files(spark, path, hit_files).where(f"NOT ({condition})"), path
    )
    return {
        "base_generation": base_generation,
        "remove_files": sorted(hit_files),
        "add_entries": add_entries,
        "op": "delete",
        "condition": condition,
    }


def plan_merge(spark, path: str, updates, key_cols: list[str]) -> dict:
    """Phase 1 of keyed MERGE (upsert) as an optimistic transaction —
    the Delta ``MERGE INTO`` / Iceberg copy-on-write upsert in the
    repo's minimal honest form: only files CONTAINING matched keys
    are rewritten (their matched rows dropped), and every update row —
    matched or brand-new — is staged beside them, so the merged view
    is last-write-wins per key. Untouched files carry by reference at
    commit.

    ``updates`` and its distinct key set are evaluated ONCE (persisted
    for the call): one semi-join scan finds the hit files, then ONE
    write job stages the hit files' survivors (broadcast anti-join on
    the keys, packed per input split — one output file per split,
    bounded by ``maxPartitionBytes``, never funnelled through one task)
    together with the update rows (one file). The two sides are
    combined by name, so updates whose columns differ from the hit
    files' fail loudly. Row counts come from the written footers — no
    ``count()`` job. Returns the staged transaction for
    ``commit_transaction`` (conflicts abort; disjoint commits rebase).
    """
    _require_local(path, "plan_merge")
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from ..session import release_tracked, track_persist

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    _refuse_dv(manifest["files"], "plan_merge")
    base_generation = manifest.get("generation", 0)
    files = [f["file"] for f in manifest["files"]]
    # a caller's own cache is reused, and left in place
    owned = updates.storageLevel == StorageLevel.NONE
    if owned:
        updates = track_persist(updates)
    keys = track_persist(updates.select(*key_cols).distinct())
    try:
        hit_rows = [] if not files else (
            spark.read.parquet(*[os.path.join(path, f) for f in files])
            # input_file_name() must be captured BEFORE the join: Spark
            # rejects it once the plan has more than one source
            .select(F.input_file_name().alias("f"), *key_cols)
            .join(broadcast(keys), key_cols, "left_semi")
            .groupBy("f")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        hit_base = {os.path.basename(r.f.removeprefix("file:")) for r in hit_rows}
        # basename matching: clone listings reference source files by
        # absolute path (see plan_delete)
        hit_files = [f for f in files if os.path.basename(f) in hit_base]
        staged = updates.coalesce(1)
        if hit_files:
            staged = (
                _read_files(spark, path, hit_files)
                .join(broadcast(keys), key_cols, "left_anti")
                .unionByName(staged)
            )
        add_entries = _stage_files(staged, path)
    finally:
        release_tracked(keys)
        if owned:
            release_tracked(updates)
    return {
        "base_generation": base_generation,
        "remove_files": sorted(hit_files),
        "add_entries": add_entries,
        "op": "merge",
        "keys": key_cols,
    }


def plan_optimize(spark, path: str, target_rows: int) -> dict:
    """Phase 1 of OPTIMIZE (bin-packing compaction) as an optimistic
    transaction — Delta's OPTIMIZE / Iceberg's rewrite_data_files:
    committed files under ``target_rows`` are greedily binned to the
    target and each bin rewritten as ONE file. Logically invisible by
    construction (pure rewrite, no predicate); the transaction's
    conflict class is the same file-level one as DELETE/MERGE, so a
    concurrent rewrite of a file being compacted aborts the
    compactor, while disjoint appends/deletes rebase over it — which
    is exactly why OPTIMIZE runs safely alongside ingest on a real
    lake. Files at or above the target carry by reference."""
    _require_local(path, "plan_optimize")
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    base_generation = manifest.get("generation", 0)
    # DV'd entries are skipped, not refused: compacting one raw would
    # resurrect its DV-deleted rows, and materializing them is the
    # purge op's job — OPTIMIZE only bin-packs clean files.
    smalls = [
        e
        for e in manifest["files"]
        if e["n_rows"] < target_rows and not e.get("dvs")
    ]
    bins: list[list[dict]] = []
    cur: list[dict] = []
    n_cur = 0
    for e in smalls:
        cur.append(e)
        n_cur += e["n_rows"]
        if n_cur >= target_rows:
            bins.append(cur)
            cur, n_cur = [], 0
    if cur:
        bins.append(cur)
    # a 1-file bin is already as compact as it can get: skip it
    bins = [b for b in bins if len(b) >= 2]
    add_entries = []
    remove_files = []
    for b in bins:
        names = [e["file"] for e in b]
        add_entries += _stage_files(
            _read_files(spark, path, names).coalesce(1), path
        )
        remove_files.extend(names)
    return {
        "base_generation": base_generation,
        "remove_files": sorted(remove_files),
        "add_entries": add_entries,
        "op": "optimize",
    }


def optimize_compact(spark, path: str, target_rows: int) -> tuple[int, int]:
    """OPTIMIZE with immediate optimistic commit; returns (files
    compacted away, bins written). No-op (no commit) when nothing
    qualifies."""
    txn = plan_optimize(spark, path, target_rows)
    if not txn["remove_files"]:
        return (0, 0)
    try:
        commit_transaction(path, txn)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn)
        raise
    return (len(txn["remove_files"]), len(txn["add_entries"]))


def merge_upsert(spark, path: str, updates, key_cols: list[str]) -> int:
    """Keyed MERGE with immediate optimistic commit (``plan_merge``):
    one scan finds the files holding matched keys, then one write job
    stages their survivors, packed per input split, plus the update
    rows; row counts come from the written footers. Returns the
    number of files rewritten; a superseding overlapping commit
    aborts (staged files cleaned) and raises."""
    txn = plan_merge(spark, path, updates, key_cols)
    try:
        commit_transaction(path, txn)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn)
        raise
    return len(txn["remove_files"])


def abort_transaction(path: str, txn: dict) -> None:
    """Remove a staged transaction's part files (never-committed, so
    no reader ever saw them) — the cleanup arm of a conflict abort.

    Removes the files the transaction STAGED (``staged_files`` when
    present), not blindly its ``add_entries``: a deletion-vector
    transaction's add_entries re-reference LIVE committed data files
    (same name, new DV list), and deleting those on abort would
    destroy committed data."""
    staged = txn.get("staged_files")
    if staged is None:
        staged = [e["file"] for e in txn["add_entries"]]
    for f in staged:
        try:
            os.remove(os.path.join(path, f))
        except OSError:
            pass


def delete_where(spark, path: str, condition: str) -> int:
    """Row-level DELETE with FILE-SCOPED rewrite — the table-format
    delete contract (Delta/Iceberg copy-on-write): only files that
    actually CONTAIN matching rows are rewritten (without their
    matches); untouched files carry into the new manifest generation
    by reference, zero bytes moved. At lake scale a predicate that
    hits 3 of 10 000 files costs 3 file rewrites, not a table scan
    rewrite. Old generations still see the deleted rows (time
    travel) until vacuum. Returns the number of files rewritten.

    Plan + immediate optimistic commit: a commit that lands between
    the scan and the commit aborts (overlapping rewrite) or is
    rebased over (disjoint — e.g. a concurrent append's files carry
    into the new generation instead of being clobbered). Like
    ``merge_upsert``, the rewrite is one write job (``plan_delete``)."""
    txn = plan_delete(spark, path, condition)
    try:
        commit_transaction(path, txn)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn)
        raise
    return len(txn["remove_files"])


def vacuum_manifest_table(path: str, keep_generations: int = 1) -> list[str]:
    """Physically delete part files no retained generation references
    — the vacuum every table format separates from commit (commits
    only flip visibility; disk is reclaimed here, explicitly). Keeps
    the newest ``keep_generations`` snapshots' files (plus whatever
    the live ``_MANIFEST`` names) and drops older snapshot manifests,
    which bounds time travel to the retention window — exactly
    Delta's VACUUM / Iceberg's expire_snapshots contract. Runs under
    the commit lock so a concurrent commit can't publish a file this
    pass is deleting. Returns the deleted file names."""
    _require_local(path, "vacuum_manifest_table")
    if keep_generations < 1:
        raise ValueError("keep_generations must be >= 1")
    with _commit_lock(path):
        snaps = sorted(
            (
                f
                for f in os.listdir(path)
                if f.startswith(f"{MANIFEST}.g") and not f.endswith(".tmp")
            ),
            key=lambda f: int(f.rsplit("g", 1)[1]),
        )
        keep_snaps = set(snaps[-keep_generations:])
        referenced: set[str] = set()
        for name in keep_snaps | {MANIFEST}:
            try:
                with open(os.path.join(path, name), encoding="utf-8") as fh:
                    for e in json.load(fh)["files"]:
                        referenced.add(e["file"])
                        # DV sidecars are part of the snapshot's read
                        # view: vacuuming one would silently resurrect
                        # its deleted rows
                        referenced.update(e.get("dvs", []))
            except FileNotFoundError:
                continue
        deleted = []
        for f in os.listdir(path):
            if f.endswith(".parquet") and f not in referenced:
                os.remove(os.path.join(path, f))
                deleted.append(f)
            elif f.startswith(f"{MANIFEST}.g") and f not in keep_snaps:
                os.remove(os.path.join(path, f))
        return deleted


def integrity_audit(spark, path: str):
    """Distributed BIT-ROT check: re-hash every manifest-listed part
    file and compare against the digest recorded at commit time —
    the audit a 100 TB lake runs on a schedule, because silent
    storage corruption is a when, not an if. Files committed without
    a digest (rewrite paths that adopt Spark-written files) report
    'unverified' rather than pretending: honesty over green. The
    hashing is an Arrow-batched map over (file, expected) rows —
    embarrassingly parallel, one pass over the bytes.

    Returns a DataFrame: file, status ('ok'|'corrupt'|'unverified').
    """
    from pyspark.sql import functions as F  # noqa: F401

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        entries = json.load(fh)["files"]
    rows = [(e["file"], e.get("sha256")) for e in entries]
    df = spark.createDataFrame(rows, "file string, expected string")

    def _check(batches):
        import hashlib as _hl

        import pandas as pd

        for pdf in batches:
            out = []
            for f, expected in zip(pdf["file"], pdf["expected"]):
                if expected is None:
                    out.append((f, "unverified"))
                    continue
                h = _hl.sha256()
                with open(os.path.join(path, f), "rb") as fh:
                    for chunk in iter(lambda: fh.read(1 << 20), b""):
                        h.update(chunk)
                out.append(
                    (f, "ok" if h.hexdigest() == expected else "corrupt")
                )
            yield pd.DataFrame(out, columns=["file", "status"])

    return df.mapInPandas(_check, "file string, status string")


def shallow_clone(src_path: str, dst_path: str) -> int:
    """ZERO-COPY table clone (Delta SHALLOW CLONE): the clone's
    manifest references the source's data files by ABSOLUTE path —
    no bytes move — and the clone then diverges copy-on-write: a
    delete/merge/optimize on the clone rewrites into the CLONE's
    directory and merely drops the absolute references from its
    listing, never touching the source. Reader compatibility is free
    (``os.path.join(dir, abs_path)`` returns the absolute path
    unchanged), and the clone's vacuum only ever inspects its own
    directory, so source files are structurally un-deletable from
    the clone side. Returns the number of files referenced."""
    _require_local(src_path, "shallow_clone")
    _require_local(dst_path, "shallow_clone")
    os.makedirs(dst_path, exist_ok=True)
    with open(os.path.join(src_path, MANIFEST), encoding="utf-8") as fh:
        src = json.load(fh)
    abs_src = os.path.abspath(src_path)
    files = [
        {**e, "file": os.path.join(abs_src, e["file"])} for e in src["files"]
    ]
    with _commit_lock(dst_path):
        doc = {
            "generation": 1,
            "files": files,
            "op": "clone",
            "source": abs_src,
            "source_generation": src.get("generation", 0),
        }
        tmp = os.path.join(dst_path, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        snap = os.path.join(dst_path, f"{MANIFEST}.g1")
        tmp_snap = f"{snap}.{uuid.uuid4().hex}.tmp"
        with open(tmp_snap, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        os.replace(tmp_snap, snap)
        os.replace(tmp, os.path.join(dst_path, MANIFEST))
    return len(files)


def create_manifest_table(path: str) -> None:
    """Initialize an EMPTY manifest table (generation 1, no files) —
    the CREATE TABLE a streaming writer needs before its first
    micro-batch can run the read-merge-commit loop."""
    _require_local(path, "create_manifest_table")
    os.makedirs(path, exist_ok=True)
    with _commit_lock(path):
        manifest_path = os.path.join(path, MANIFEST)
        if os.path.exists(manifest_path):
            return
        doc = {"generation": 1, "files": [], "op": "create"}
        tmp = os.path.join(path, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        snap = os.path.join(path, f"{MANIFEST}.g1")
        tmp_snap = f"{snap}.{uuid.uuid4().hex}.tmp"
        with open(tmp_snap, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        os.replace(tmp_snap, snap)
        os.replace(tmp, manifest_path)


def last_stream_epoch(path: str, app_id: str) -> int:
    """The last foreachBatch epoch COMMITTED for ``app_id`` (-1 if
    none) — read it, skip any batch_id <= it: exactly-once upserts
    under micro-batch replay."""
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        return int(json.load(fh).get("epochs", {}).get(app_id, -1))


def read_manifest_table(
    spark, path: str, as_of: int | None = None, merge_schema: bool = False
):
    """Read back ONLY the committed files (manifest-trusting reader).
    Stray part files from failed attempts are invisible.

    ``as_of`` selects a historical generation's snapshot
    (``_MANIFEST.g<N>``) instead of the latest view — time travel:
    commits never delete part files, so every generation the sink
    ever committed stays reconstructible until a vacuum (a separate
    concern, as in every table format).

    ``merge_schema`` reconciles per-file footers at planning time —
    the ADDITIVE schema-evolution contract (Delta's mergeSchema /
    Iceberg's schema id): generations committed with extra columns
    read as one relation, older rows NULL-filled; history is never
    rewritten.

    Entries carrying deletion vectors (``dvs``, written by
    ``delete_where_dv``) are applied MERGE-ON-READ: the sidecars'
    (file, pos) rows are anti-joined against the scan's hidden
    ``_metadata`` (file_name, row_index) — a broadcast of the tiny
    DV set against a narrow scan, never a rewrite. Tables without
    DVs take the plain one-scan path unchanged."""
    name = MANIFEST if as_of is None else f"{MANIFEST}.g{as_of}"
    with open(os.path.join(path, name), encoding="utf-8") as fh:
        manifest = json.load(fh)
    entries = manifest["files"]
    files = [os.path.join(path, f["file"]) for f in entries]
    if not files:
        raise ValueError(f"empty manifest at {path}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*files)
    return _apply_dvs(spark, path, df, entries)


def _apply_dvs(spark, path: str, df, entries: list[dict]):
    """Anti-join the entries' DV sidecars (if any) out of a scan over
    exactly those entries' files. No-DV listings return ``df``
    unchanged (plain scan, no join node)."""
    dvs = [os.path.join(path, d) for e in entries for d in e.get("dvs", [])]
    if not dvs:
        return df
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    dv = spark.read.parquet(*dvs).select(
        F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
    )
    tagged = df.select(
        F.col("_metadata.file_name").alias("__row_file"),
        F.col("_metadata.row_index").alias("__row_pos"),
        "*",
    )
    return tagged.join(
        broadcast(dv),
        (tagged["__row_file"] == dv["__dv_file"])
        & (tagged["__row_pos"] == dv["__dv_pos"]),
        "left_anti",
    ).drop("__row_file", "__row_pos")


def zone_map_files(
    path: str, column: str, lo, hi, as_of: int | None = None
) -> tuple[list[str], int]:
    """FILE SKIPPING by committed zone maps: the manifest-listed
    files whose [min, max] for ``column`` overlaps [lo, hi], plus the
    total listed count. Files with no committed stats for the column
    are conservatively INCLUDED (pruning is an optimization, never a
    correctness filter) — the zone-map contract every table format's
    data-skipping index (Delta stats, Iceberg metrics, ORC/Parquet
    footers writ large) follows. Returns (kept_files, n_total)."""
    name = MANIFEST if as_of is None else f"{MANIFEST}.g{as_of}"
    with open(os.path.join(path, name), encoding="utf-8") as fh:
        manifest = json.load(fh)
    entries = manifest["files"]
    kept = []
    for e in entries:
        st = e.get("stats", {}).get(column)
        if st is None:
            kept.append(os.path.join(path, e["file"]))
            continue
        try:
            overlaps = st[0] <= hi and st[1] >= lo
        except TypeError:
            # caller-supplied bounds of a different type than the
            # committed stats (numeric vs string): pruning is never a
            # correctness filter, so include the file
            overlaps = True
        if overlaps:
            kept.append(os.path.join(path, e["file"]))
    return kept, len(entries)


def read_manifest_table_pruned(spark, path: str, column: str, lo, hi):
    """Manifest read restricted to zone-map-overlapping files; the
    predicate itself must still be applied by the caller (zone maps
    bound files, not rows). Deletion vectors of the KEPT entries are
    applied like the full reader's — zone maps stay valid upper
    bounds under DVs (deletes only shrink the live set), but the
    deleted rows themselves must not resurface through the pruned
    path."""
    files, _total = zone_map_files(path, column, lo, hi)
    if not files:
        raise ValueError(
            f"no committed file overlaps {column} in [{lo}, {hi}] at {path}"
        )
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        entries = json.load(fh)["files"]
    kept_names = {os.path.basename(f) for f in files}
    kept_entries = [
        e for e in entries if os.path.basename(e["file"]) in kept_names
    ]
    return _apply_dvs(
        spark, path, spark.read.parquet(*files), kept_entries
    )


# ---------------------------------------------------------------------------
# Deletion vectors: MERGE-ON-READ row-level delete (Delta 2.x deletion
# vectors / Iceberg v2 position deletes, in the repo's minimal honest
# form). Copy-on-write (`plan_delete`) pays a full rewrite of every hit
# file to drop a few rows; a deletion vector instead records the DELETED
# ROW POSITIONS in a tiny sidecar and leaves the data files untouched —
# at 100 TB a delete that hits 0.1% of rows across 3 000 files costs one
# narrow scan plus kilobytes of sidecar, not 3 000 file rewrites.
# Readers apply DVs as a broadcast anti-join on the scan's hidden
# (_metadata.file_name, _metadata.row_index) — the exact pair Delta's
# scan nodes key their roaring bitmaps on. Sidecars accumulate per
# entry (`dvs` list) until `purge_deletion_vectors` materializes them.
# ---------------------------------------------------------------------------


def plan_delete_dv(spark, path: str, condition: str) -> dict:
    """Phase 1 of MERGE-ON-READ delete as an optimistic transaction:
    one narrow scan (existing DVs applied, so already-deleted rows are
    never re-recorded) finds the matching (file_name, row_index)
    pairs and writes them as ONE ``dv-*.parquet`` sidecar; each hit
    file's manifest entry is replaced by the same entry with the
    sidecar appended to its ``dvs`` list. Data files are NOT
    rewritten and NOT removed — but the hit entries still go through
    ``remove_files``, so the standard conflict rules apply: a
    concurrent rewrite (or concurrent DV delete) of the same file
    aborts, disjoint commits rebase — Delta's
    ConcurrentDeleteDelete semantics for free. ``staged_files`` names
    only the sidecar: an abort must never unlink live data files."""
    _require_local(path, "plan_delete_dv")
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    base_generation = manifest.get("generation", 0)
    entries = manifest["files"]
    files = [os.path.join(path, e["file"]) for e in entries]
    empty = {
        "base_generation": base_generation,
        "remove_files": [],
        "add_entries": [],
        "staged_files": [],
        "op": "delete_dv",
        "condition": condition,
        "dv_rows": 0,
    }
    if not files:
        return empty
    scan = spark.read.parquet(*files).select(
        F.col("_metadata.file_name").alias("__row_file"),
        F.col("_metadata.row_index").alias("__row_pos"),
        "*",
    )
    prior = [os.path.join(path, d) for e in entries for d in e.get("dvs", [])]
    if prior:
        pdv = spark.read.parquet(*prior).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        scan = scan.join(
            broadcast(pdv),
            (scan["__row_file"] == pdv["__dv_file"])
            & (scan["__row_pos"] == pdv["__dv_pos"]),
            "left_anti",
        )
    matches = scan.where(condition).select(
        F.col("__row_file").alias("file"), F.col("__row_pos").alias("pos")
    )
    staged = _stage_files(matches.coalesce(1), path, "dv-")
    if not staged:
        return empty
    dv_name, total = staged[0]["file"], staged[0]["n_rows"]
    # per-file hit counts from the (tiny) adopted sidecar — one row
    # per hit file on the driver, never the positions themselves
    counts = {
        r["file"]: r["n"]
        for r in spark.read.parquet(os.path.join(path, dv_name))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hit = [e for e in entries if os.path.basename(e["file"]) in counts]
    add_entries = [
        {
            **e,
            "dvs": [*e.get("dvs", []), dv_name],
            "dv_rows": e.get("dv_rows", 0)
            + counts[os.path.basename(e["file"])],
        }
        for e in hit
    ]
    return {
        "base_generation": base_generation,
        "remove_files": sorted(e["file"] for e in hit),
        "add_entries": add_entries,
        "staged_files": [dv_name],
        "op": "delete_dv",
        "condition": condition,
        "dv_rows": total,
    }


def delete_where_dv(spark, path: str, condition: str) -> int:
    """Merge-on-read DELETE with immediate optimistic commit; returns
    the number of rows newly deleted (0 = no matching live rows, no
    commit). Conflicts abort with the sidecar cleaned up."""
    txn = plan_delete_dv(spark, path, condition)
    if not txn["remove_files"]:
        return 0
    try:
        commit_transaction(path, txn)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn)
        raise
    return txn["dv_rows"]


def purge_deletion_vectors(spark, path: str) -> int:
    """Materialize every deletion vector: the DV'd files are rewritten
    WITHOUT their deleted positions — the readers' (file_name,
    row_index) anti-join, all files in ONE write job packed per input
    split — and their entries replaced by clean ones — Delta's
    REORG TABLE ... APPLY (PURGE). The logical table is unchanged
    (pinned by the caller reading before/after); the old files and
    sidecars stay on disk for time travel until vacuum. Returns the
    number of files rewritten. Runs as one optimistic transaction:
    a concurrent commit touching a purged file aborts the purge."""
    _require_local(path, "purge_deletion_vectors")
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    dved = [e for e in manifest["files"] if e.get("dvs")]
    if not dved:
        return 0
    survivors = _apply_dvs(
        spark, path, _read_files(spark, path, [e["file"] for e in dved]), dved
    )
    add_entries = _stage_files(survivors, path)
    txn = {
        "base_generation": manifest.get("generation", 0),
        "remove_files": sorted(e["file"] for e in dved),
        "add_entries": add_entries,
        "op": "purge_dv",
    }
    try:
        commit_transaction(path, txn)
    except ConcurrentWriteConflictError:
        abort_transaction(path, txn)
        raise
    return len(dved)


def restore_table(path: str, to_generation: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — as a NEW commit (Delta's
    RESTORE): the target snapshot's listing is re-published at
    generation N+1 through the optimistic transaction path, so
    history is preserved (the restore itself is a commit you can
    time-travel back across, and its snapshot-diff is derivable like
    any other) and a commit racing the restore aborts or rebases by
    the standard file-level rules. The full current listing is
    replaced (remove = all current, add = all target entries), which
    also rolls back deletion-vector state — a restore across a DV
    delete restores the PRE-delete entries verbatim. Fails loudly if
    the target snapshot or any file it references was vacuumed.
    Returns the new generation."""
    _require_local(path, "restore_table")
    snap_path = os.path.join(path, f"{MANIFEST}.g{to_generation}")
    try:
        with open(snap_path, encoding="utf-8") as fh:
            target = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"cannot restore {path} to generation {to_generation}: "
            "snapshot was vacuumed"
        ) from None
    missing = [
        e["file"]
        for e in target["files"]
        if not os.path.exists(os.path.join(path, e["file"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to generation {to_generation}: "
            f"data files vacuumed: {sorted(missing)[:5]}"
        )
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        cur = json.load(fh)
    txn = {
        "base_generation": cur.get("generation", 0),
        "remove_files": sorted(e["file"] for e in cur["files"]),
        "add_entries": list(target["files"]),
        "staged_files": [],
        "op": "restore",
        "restore_to": to_generation,
    }
    return commit_transaction(path, txn)


# ---------------------------------------------------------------------------
# Per-file BLOOM FILTER index: equality-probe file skipping where zone
# maps cannot prune (files clustered by another column all span the
# probe column's full min-max range — e.g. priority-clustered orders
# probed by o_orderkey). The lakehouse analog is Delta's Bloom filter
# index / Iceberg's Puffin blobs: tiny per-file bitsets committed as
# table metadata, consulted driver-side before planning the scan.
# Blooms are a PURE FUNCTION of the file's data (xxhash64, fixed
# seeds), so pruning decisions are deterministic; like zone maps they
# are an optimization, never a correctness filter — files without a
# bloom for the column are conservatively included, and the probe's
# predicate must still be applied by the caller.
# ---------------------------------------------------------------------------

_BLOOM_MIN_BITS = 1 << 16  # floor: 64 Kib → 1024 longs (~8 KB hex)
_BLOOM_BITS_PER_ROW = 16  # sizing target (k=7 → per-file FP ~7e-4)
_BLOOM_K = 7  # hash functions (seeds 1001..1007)


def _bloom_m(n_rows: int) -> int:
    """Per-file filter size: next power of two ≥ 16 bits/row (floor
    2^16). Power-of-two sizes make probe reduction exact: xxhash64
    reduced mod 2^a then mod 2^b (b ≤ a) equals reduction mod 2^b,
    so one set of raw hashes serves every file's own m."""
    m = _BLOOM_MIN_BITS
    while m < n_rows * _BLOOM_BITS_PER_ROW:
        m <<= 1
    return m


def build_bloom_index(spark, path: str, column: str) -> int:
    """Compute a per-file Bloom filter over ``column`` for every
    manifest-listed file and commit the bitsets into the listing as
    an optimistic transaction (op ``bloom_index``; entries replaced
    in place, data files untouched — the same remove-and-re-add shape
    as a DV commit, so concurrent rewrites of an indexed file
    conflict correctly). Each file's filter is sized from its
    COMMITTED row count (``_bloom_m`` — a fixed-size filter saturates
    at scale: 2^16 bits over 30k keys reads ~75% false positive), the
    per-file m broadcast-joined into the build scan.

    The aggregation is fully distributed and shuffle-light: each row
    expands to its k bit positions, positions group to (file,
    word_idx) with ``bit_or`` of the masks — at most files × m/64
    rows ever reach the driver, independent of row count. Bitsets
    are stored hex-in-manifest here (honest at test scale); at lake
    scale the same bytes belong in a sidecar blob per file (Iceberg's
    Puffin / Delta's index files) with only the reference committed.
    Returns the number of files indexed."""
    _require_local(path, "build_bloom_index")
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    entries = manifest["files"]
    if not entries:
        return 0
    files = [os.path.join(path, e["file"]) for e in entries]
    ms = {
        os.path.basename(e["file"]): _bloom_m(e["n_rows"]) for e in entries
    }
    m_df = spark.createDataFrame(
        list(ms.items()), "f string, bloom_m long"
    )
    pos_exprs = ", ".join(
        f"pmod(xxhash64({column}, {1000 + i}), bloom_m)"
        for i in range(1, _BLOOM_K + 1)
    )
    scan = spark.read.parquet(*files).select(
        F.col("_metadata.file_name").alias("f"), F.col(column)
    )
    words = (
        scan.join(broadcast(m_df), "f")
        .select("f", F.explode(F.expr(f"array({pos_exprs})")).alias("p"))
        .select(
            "f",
            (F.col("p") / 64).cast("long").alias("w"),
            # shiftleft's bit-count arg must be a literal in the
            # DataFrame API; the SQL form takes a column
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("m"),
        )
        .groupBy("f", "w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    blooms: dict[str, list[int]] = {}
    for r in words:
        blooms.setdefault(r["f"], [0] * (ms[r["f"]] >> 6))[r["w"]] = r["bits"]
    add_entries = []
    for e in entries:
        base = os.path.basename(e["file"])
        bloom = blooms.get(base)
        idx = {**e.get("blooms", {})}
        if bloom is not None:
            # two's-complement longs → unsigned hex words
            idx[column] = {
                "m": ms[base],
                "bits": "".join(
                    f"{w & ((1 << 64) - 1):016x}" for w in bloom
                ),
            }
        add_entries.append({**e, "blooms": idx})
    txn = {
        "base_generation": manifest.get("generation", 0),
        "remove_files": sorted(e["file"] for e in entries),
        "add_entries": add_entries,
        "staged_files": [],
        "op": "bloom_index",
        "column": column,
    }
    commit_transaction(path, txn)
    return len(blooms)


def bloom_probe_hashes(spark, column_type: str, value) -> list[int]:
    """The probe value's k RAW xxhash64 values, computed BY SPARK (a
    1-row control-plane job) so driver-side pruning uses bit-identical
    hash semantics to the build — never a Python reimplementation
    that could silently diverge. Reduction to each file's own
    power-of-two m happens at probe time (Python ``%`` on a positive
    modulus matches Spark's pmod)."""
    exprs = ", ".join(
        f"xxhash64(cast({value!r} as {column_type}), {1000 + i})"
        for i in range(1, _BLOOM_K + 1)
    )
    return [
        int(h)
        for h in spark.range(1).selectExpr(f"array({exprs}) as p").head()["p"]
    ]


def bloom_prune_files(
    spark, path: str, column: str, column_type: str, value
) -> tuple[list[str], int]:
    """FILE SKIPPING by committed Bloom filters: the manifest-listed
    files whose bloom for ``column`` claims ``value`` may be present,
    plus the total listed count. Files with no bloom for the column
    are conservatively INCLUDED. Deterministic: blooms and probe
    positions are pure functions of the data and value."""
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        entries = json.load(fh)["files"]
    hashes = bloom_probe_hashes(spark, column_type, value)
    kept = []
    for e in entries:
        idx = e.get("blooms", {}).get(column)
        if idx is None:
            kept.append(os.path.join(path, e["file"]))
            continue
        m, hexbits = idx["m"], idx["bits"]
        words = [
            int(hexbits[i * 16 : (i + 1) * 16], 16) for i in range(m >> 6)
        ]
        positions = [h % m for h in hashes]
        if all(words[p >> 6] & (1 << (p & 63)) for p in positions):
            kept.append(os.path.join(path, e["file"]))
    return kept, len(entries)


def read_manifest_table_point(
    spark, path: str, column: str, column_type: str, value
):
    """Manifest read restricted to bloom-candidate files for an
    equality probe — the caller must still apply the predicate
    (blooms admit false positives, never false negatives). Deletion
    vectors of the kept entries apply as in every other read path.
    Raises if no file can contain the value (definitive miss)."""
    files, _total = bloom_prune_files(spark, path, column, column_type, value)
    if not files:
        raise ValueError(
            f"no committed file can contain {column} = {value!r} at {path}"
        )
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        entries = json.load(fh)["files"]
    kept_names = {os.path.basename(f) for f in files}
    kept_entries = [
        e for e in entries if os.path.basename(e["file"]) in kept_names
    ]
    return _apply_dvs(
        spark, path, spark.read.parquet(*files), kept_entries
    )
