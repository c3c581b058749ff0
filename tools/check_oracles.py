#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry via PySpark and its ``oracle_sql()``
via DuckDB on the same sf parquet dir, then compares:
row-count, schema (sorted column names), and an order-insensitive
value comparison (rows sorted by all columns, exact match for
non-floats, tiny-epsilon report for floats).

The driver's value compare is an EXACT hash of rendered values, so a
dtype mismatch with zero numeric diff (Spark DECIMAL vs DuckDB
float64; BIGINT vs float64 — the two r04 driver hash-fails) is a real
failure even though an epsilon compare passes. This gate therefore
flags any cross-KIND column dtype mismatch (int vs float vs
decimal/object) as ``WOULD FAIL EXACT HASH``; with ``--exact`` those
warnings (and epsilon-passing nonzero float diffs) become hard
failures, mirroring the driver.

Each query runs under a Spark job description equal to its name, and
its ``--out`` entry carries the node counts of the EXECUTED (post-AQE)
plans of every SQL execution under that description — eager jobs in
the operator call included — read from Spark's REST ``/sql`` with
perfbench's ``plan_counts``: ``exchanges``, ``broadcasts``,
``python_nodes`` and ``cached_scans``. Streaming micro-batches carry
their own descriptions, so a drain's batches are not in the counts.
"No query's plan grew" is then a diff of two artifacts.

Usage: python tools/check_oracles.py [sf_dir] [--exact] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace as tr  # noqa: E402  (stdlib only)

_ARGS = [
    a for a in sys.argv[1:] if a != "--exact" and not a.startswith("--out=")
]
EXACT = "--exact" in sys.argv[1:]
# --out=PATH writes a committed-auditable JSON artifact (per-query
# status + problems + summary) so a gate run is evidence, not prose.
OUT = next(
    (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--out=")), None
)
SF_DIR = _ARGS[0] if _ARGS else "/root/testdata/sf0.01"


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            # Spark-written table: a DIRECTORY of part files (the
            # scale-probe's synthetic datasets) — glob inside it
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _kind(series: pd.Series) -> str:
    """Coarse dtype kind for exact-hash risk: the driver renders
    values before hashing, so int 0 vs float 0.0 vs Decimal
    0.000000 differ even when numerically equal."""
    if pd.api.types.is_bool_dtype(series):
        return "bool"
    if pd.api.types.is_integer_dtype(series):
        return "int"
    if pd.api.types.is_float_dtype(series):
        return "float"
    return "other"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row-count spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"schema spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    for c in s_cols:
        sk, dk = _kind(spark_pdf[c]), _kind(duck_pdf[c])
        if sk != dk:
            problems.append(
                f"col {c}: dtype kind spark={sk}({spark_pdf[c].dtype}) "
                f"duck={dk}({duck_pdf[c].dtype}) [WOULD FAIL EXACT HASH]"
            )
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sv_f = pd.to_numeric(sv, errors="coerce")
            dv_f = pd.to_numeric(dv, errors="coerce")
            bad = ~(
                (sv_f.isna() & dv_f.isna())
                | (abs(sv_f - dv_f) <= 1e-9 + 1e-9 * abs(dv_f))
            )
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"col {c}: {int(bad.sum())} float mismatches, first at row {i}: "
                    f"spark={sv_f[i]!r} duck={dv_f[i]!r}"
                )
            else:
                md = float((sv_f - dv_f).abs().max() or 0.0)
                if md > 0:
                    problems.append(f"col {c}: OK within eps (max abs diff {md:.2e}) [WOULD FAIL EXACT HASH]")
        else:
            if not sv.equals(dv):
                bad = sv != dv
                i = bad.idxmax()
                problems.append(
                    f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                    f"spark={sv[i]!r} duck={dv[i]!r}"
                )
    return problems


def _executed_plan_counts(rest, name: str) -> dict[str, int]:
    """Plan-node counts of the finished SQL executions described
    ``name``; waits (bounded) for the listener to mark them done so the
    final adaptive plan is the one counted."""
    for _ in range(50):
        execs = rest.sql_by_description().get(name, [])
        if all(e.get("status") != "RUNNING" for e in execs):
            break
        time.sleep(0.1)
    return tr.plan_counts(execs)


def main() -> int:
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # Deliberately a VANILLA session (not session.get_spark): the
    # driver's t2 harness builds its own SparkSession without any of
    # our confs, so queries must not depend on session-build-time
    # settings (the round-1 nanosAsLong bug was exactly this).
    # SPARK_GRAFT_SHUFFLE overrides the partition count so the whole
    # gate can be replayed under a deliberately weird partitioning —
    # partition-count invariance, proven at gate scope not per-test.
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("check-oracles")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
        )
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    rest = tr.SparkRest(spark)
    con = duck_con(SF_DIR)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(_ARGS[1:])
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sc.setJobDescription(name)
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "error": f"spark: {e}"[:500]}
            failures += 1
            continue
        finally:
            sc.setJobDescription(None)
        plan = _executed_plan_counts(rest, name)
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows)")
            results[name] = {
                "status": "ok_rows_only", "rows": len(spark_pdf), **plan
            }
            continue
        try:
            duck_pdf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "error": f"duckdb: {e}"[:500]}
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        hard = (
            problems
            if EXACT
            else [p for p in problems if "WOULD FAIL" not in p]
        )
        if hard:
            print(f"FAIL {name}:")
            for p in problems:
                print(f"     - {p}")
            results[name] = {
                "status": "fail",
                "rows": len(spark_pdf),
                "problems": problems,
                **plan,
            }
            failures += 1
        else:
            note = "" if not problems else f"  ({problems[0]})"
            print(f"ok   {name}: {len(spark_pdf)} rows{note}")
            results[name] = {"status": "ok", "rows": len(spark_pdf), **plan}
            if problems:
                results[name]["notes"] = problems
    print(f"\n{failures} failures")
    if OUT:
        import json

        with open(OUT, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "exact": EXACT,
                    "n_checked": len(results),
                    "n_ok": sum(
                        1 for r in results.values() if r["status"] == "ok"
                    ),
                    "n_rows_only": sum(
                        1
                        for r in results.values()
                        if r["status"] == "ok_rows_only"
                    ),
                    "failures": failures,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"# wrote {OUT}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
