"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_mix,ingest_stream}
        --seed N --seconds S --trace {0,1} [--scale X]

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench/`` (removed at exit), builds the engine's
session on ``local[min(4, nproc)]``, measures for ``--seconds`` seconds,
checks every output against its DuckDB oracle, prints a readable
report and, as the last line, one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` ones,
from a run that alternates untraced and traced work so the tracing
overhead is measured too. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import trace as tr  # noqa: E402  (stdlib only)

WORKLOADS = ("batch_mix", "ingest_stream")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs tiny inputs)")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of every checked output (self-test)")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point every scratch location (Python tempfile, Spark local dirs,
    JVM tmpdir, warehouse) into the run's directory and cap Spark's
    threads at nproc. Runs before the engine is imported."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))


def _session():
    from cs537_spring2021_p3a_mapreduce_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    """JIT and codegen warm-up on tiny inputs (the jobs' own paths, and
    the Python workers, warm in the oracle-check pass or the first
    micro-batches, before anything is timed)."""
    from pyspark.sql import functions as F

    from cs537_spring2021_p3a_mapreduce_spark.functions.text import tokens

    spark.range(200_000).selectExpr("sum(id)").collect()
    docs = spark.range(2000).select(
        F.concat_ws(" ", F.lit("a b"), (F.col("id") % 97).cast("string")).alias("text")
    )
    docs.select(F.explode(tokens("text")).alias("t")).groupBy("t").count().write.format(
        "noop"
    ).mode("overwrite").save()


def _setup(args, work, wl):
    """Build the session and warm it up, generate the inputs, run the
    operators' bench_setup hooks. ``setup_s`` is the process's age once
    the session is warm (interpreter, imports, JVM launch, session,
    warm-up job) plus the hooks' time; input generation, between the
    two, is not counted."""
    t = time.perf_counter()
    spark = _session()
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    _warm(spark)
    warmup_s = time.perf_counter() - t
    ready_s = tr.process_age_s()
    t = time.perf_counter()
    if wl.name == "ingest_stream":
        wl.generate(spark, work, args.seed, args.scale, args.seconds)
    else:
        wl.generate(spark, work, args.seed, args.scale)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.bench_setup(spark)
    hooks_s = time.perf_counter() - t
    info = {"ready_s": ready_s, "session.start_s": start_s,
            "session.warmup_s": warmup_s, "gen_s": gen_s, "hooks_s": hooks_s}
    return spark, ready_s + hooks_s, info


def _shutdown() -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _dump_spans(root: str, args, spans) -> str:
    """Write the in-memory spans under .perfbench/traces/ (kept)."""
    d = os.path.join(root, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    spans.dump(path)
    return f"# spans written to {os.path.relpath(path, root)}"


def _clear_stale(base: str) -> None:
    """Remove the run directories of earlier runs that were killed
    before their own clean-up (their process is gone)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    _environment(work)
    # the engine must be importable before anything is written
    import __spark_entry__  # noqa: F401

    _clear_stale(os.path.dirname(work))
    os.makedirs(os.path.join(work, "tmp"))
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        from perfbench import report

        if args.workload == "ingest_stream":
            from perfbench.ingest import IngestWorkload

            wl = IngestWorkload()
        else:
            from perfbench.batch import BatchWorkload

            wl = BatchWorkload()
        spark, setup_s, info = _setup(args, work, wl)
        out = report.run(spark, wl, args, setup_s, info)
        if args.trace:
            out["report"].append(_dump_spans(root, args, out.pop("spans")))
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        metrics[m["name"]] = {"value": float(out["metrics"].get(m["name"], 0.0)),
                              "unit": m["unit"]}
    for line in out["report"]:
        print(line)
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
