"""Measurement helpers: percentiles, spans, Spark REST stage metrics,
executed-plan node counts and a resident-memory sampler.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer, Spark's monitoring REST API
(served by the driver on localhost) supplies stage metrics and the
final (post-AQE) plan graph, and ``/proc`` supplies memory.
"""

from __future__ import annotations

import json
import math
import os
import threading
import urllib.request


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2


def nearest_rank(xs: list[float], pct: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, nearest_rank(xs, pct)


class Spans:
    """In-memory span log: (id, parent, layer, name, start, end)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self.rows)
        self.rows.append({"id": sid, "parent": parent, "layer": layer,
                          "name": name, "start": start, "end": end, **attrs})
        return sid

    def by_layer(self, layer: str) -> list[dict]:
        return [r for r in self.rows if r["layer"] == layer]

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the union of its children's time."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for r in self.rows:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append((r["start"], r["end"]))
        out: dict[str, float] = {}
        for r in self.rows:
            covered = _union_len(
                [(max(a, r["start"]), min(b, r["end"])) for a, b in kids.get(r["id"], [])]
            )
            out[r["layer"]] = out.get(r["layer"], 0.0) + (r["end"] - r["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.rows, fh)


def _union_len(iv: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SparkRest:
    """Reads the driver's monitoring REST API for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in self._get("/jobs"):
            out.setdefault(j.get("jobGroup") or "", []).append(j)
        return out

    def stages(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            out.setdefault(s["stageId"], []).append(s)
        return out

    def sql_by_description(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for e in self._get("/sql?details=true&planDescription=false&length=100000"):
            out.setdefault(e.get("description") or "", []).append(e)
        return out


STAGE_FIELDS = ("tasks", "cpu_s", "run_s", "gc_s", "shuffle_write_mb",
                "fetch_wait_s", "spill_mb", "input_mb")


def stage_metrics(attempts: list[dict]) -> dict[str, float]:
    m = dict.fromkeys(STAGE_FIELDS, 0.0)
    for s in attempts:
        m["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
        m["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        m["run_s"] += s.get("executorRunTime", 0) / 1e3
        m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
        m["fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
        m["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 2**20
        m["input_mb"] += s.get("inputBytes", 0) / 2**20
    return m


def stage_interval(attempts: list[dict]) -> tuple[float, float] | None:
    """Wall interval (epoch seconds) a stage ran, from its REST timestamps."""
    def ts(v: str | None) -> float | None:
        if not v:
            return None
        from datetime import datetime

        return datetime.strptime(v.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    starts = [ts(s.get("submissionTime")) for s in attempts]
    ends = [ts(s.get("completionTime")) for s in attempts]
    starts = [x for x in starts if x is not None]
    ends = [x for x in ends if x is not None]
    if not starts or not ends:
        return None
    return min(starts), max(ends)


PLAN_COUNTS = ("exchanges", "broadcasts", "python_nodes", "cached_scans")


def plan_counts(executions: list[dict]) -> dict[str, int]:
    """Node counts of the final (post-AQE) plan graphs of SQL executions."""
    c = dict.fromkeys(PLAN_COUNTS, 0)
    for e in executions:
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            if name == "Exchange":
                c["exchanges"] += 1
            elif name == "BroadcastExchange":
                c["broadcasts"] += 1
            elif name == "InMemoryTableScan":
                c["cached_scans"] += 1
            if "Python" in name or "Pandas" in name:
                c["python_nodes"] += 1
    return c


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and the Python workers it forks), sampled from ``/proc``. Each
    process counts its proportional set size (Pss), so pages that forked
    workers share with their parent are not counted twice. Also the
    machine's CPU steal share over the sampled interval."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._cpu0 = _cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        steal, total = (b - a for a, b in zip(self._cpu0, _cpu_ticks()))
        self.steal_frac = steal / total if total else 0.0

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _descendant_pss_kb(os.getpid()))
            if self._stop.wait(self.period):
                return


def _cpu_ticks() -> tuple[int, int]:
    """Machine-wide (steal, total) CPU ticks from ``/proc/stat``: on a
    VM, steal is time the host ran something else on its vCPUs."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def _descendant_pss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
