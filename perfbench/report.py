"""Runs a workload's timed window(s) and correctness checks, and turns
them into the end-to-end metrics, the per-layer metrics and a readable
report."""

from __future__ import annotations

import time
from datetime import datetime

from perfbench import trace as tr


def _fmt(name: str, value, unit: str, note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"{name:<28} {v:>14} {unit:<8} {note}".rstrip()


def _latency_lines(prefix: str, xs: list[float]) -> list[str]:
    """p50, p90 and the highest percentile with ten samples beyond it
    (shown as the max while that percentile would not exceed p50)."""
    n = len(xs)
    lines = [_fmt(f"{prefix}_p50", tr.median(xs), "s", f"n={n}"),
             _fmt(f"{prefix}_p90", tr.nearest_rank(xs, 90), "s", f"nearest rank, n={n}")]
    t = tr.tail(xs)
    if t is None or t[0] <= 50:
        lines.append(_fmt(f"{prefix}_tail", max(xs), "s",
                          f"max: n={n} leaves no percentile above p50 with 10 beyond"))
    else:
        lines.append(_fmt(f"{prefix}_tail", t[1], "s", f"p{t[0]:g}, n={n}"))
    return lines


def run(spark, wl, args, setup_s: float, info: dict) -> dict:
    if wl.name == "ingest_stream":
        return _run_ingest(spark, wl, args, setup_s, info)
    return _run_batch(spark, wl, args, setup_s, info)


def _common(setup_s, info, rss_kb, rows_per_s, lat) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "harness.latency_s_p50": tr.median(lat),
        "harness.latency_s_p90": tr.nearest_rank(lat, 90),
        "harness.peak_rss_mb": rss_kb / 1024,
        "session.start_s": info["session.start_s"],
        "session.warmup_s": info["session.warmup_s"],
    }


def _header(wl, args, setup_s, info) -> list[str]:
    return [
        f"# perfbench {wl.name} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} scale={args.scale:g}",
        f"# phases: inputs {info['gen_s']:.1f} s, warm-up pass {info.get('warm_s', 0):.1f} s, "
        f"oracle checks {info['check_s']:.1f} s, window {info['window_s']:.1f} s",
        _fmt("setup_s", setup_s, "s",
             f"process start to warm session {info['ready_s']:.3f} "
             f"(session {info['session.start_s']:.3f}, warm-up {info['session.warmup_s']:.3f})"
             f" + hooks {info['hooks_s']:.3f}"),
    ]


def _run_batch(spark, wl, args, setup_s, info) -> dict:
    trace = args.trace == 1
    spans = tr.Spans(trace)
    t = time.perf_counter()
    warm_failures = wl.warm_up(spark)
    info["warm_s"] = time.perf_counter() - t
    t = time.perf_counter()
    chk = wl.check(args.corrupt)
    info["check_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tr.RssSampler() as rss:
        res = wl.run_window(spark, args.seconds, spans if trace else None)
    info["window_s"] = time.perf_counter() - t
    untraced = [p for p in res["passes"] if not p.traced]
    by_group: dict[str, list[float]] = {}
    for p in untraced:
        for g, xs in p.times.items():
            by_group.setdefault(g, []).extend(xs)
    times = [x for xs in by_group.values() for x in xs] or [0.0]
    rows = sum(p.rows for p in untraced)
    wall = sum(p.wall for p in untraced)
    rps = rows / wall if wall else 0.0
    m = _common(setup_s, info, rss.peak_kb, rps, times)
    attempted = sum(p.attempted for p in res["passes"]) + len(wl.jobs)
    failed = (sum(p.failed for p in res["passes"]) + len(warm_failures)
              + len(chk["failed"]))
    wrong = len(chk["wrong"])
    m["harness.fail_frac"] = failed / attempted
    m["harness.wrong_frac"] = wrong / max(chk["checked"], 1)
    lines = _header(wl, args, setup_s, info)
    lines.append(_fmt("rows_per_s", rps, "rows/s",
                      f"{rows} input rows, {len(untraced)} untraced passes in {wall:.2f} s; "
                      f"steal {100 * rss.steal_frac:.1f}%"))
    lines += _latency_lines("job_s", times)
    for g, xs in by_group.items():
        lines += _latency_lines(f"  {g}.job_s", xs)
    lines.append(_fmt("peak_rss_mb", m["harness.peak_rss_mb"], "MB",
                      "driver JVM + Python workers (PSS)"))
    lines.append(_fmt("fail_frac", m["harness.fail_frac"], "ratio", f"{failed}/{attempted}"))
    lines.append(_fmt("wrong_frac", m["harness.wrong_frac"], "ratio",
                      f"{wrong}/{chk['checked']} outputs checked against their oracle"))
    for name in wl.jobs:
        xs = [p.by_name[name] for p in res["passes"] if name in p.by_name]
        lines.append(_fmt(f"  {name}", tr.median(xs) if xs else 0.0, "s",
                          "per pass: " + ", ".join(f"{x:.3f}" for x in xs)))
    for msg in warm_failures + res["failures"] + chk["failed"] + chk["wrong"]:
        lines.append(f"  ! {msg}")
    if trace:
        m.update(wl.layer_metrics(spark, res, spans, chk))
        u0, traced, u2 = res["passes"][:3]
        base = (u0.group_rate("mr_text") + u2.group_rate("mr_text")) / 2
        m["harness.trace_overhead_frac"] = 1 - traced.group_rate("mr_text") / base
        st = spans.self_times()
        m["self_s.harness"] = st.get("harness", 0.0) + st.get("job", 0.0)
        for layer in ("catalog", "operators", "exec", "spark_stage"):
            m[f"self_s.{layer}"] = st.get(layer, 0.0)
        lines += _layer_lines(m)
    return {"metrics": m, "report": lines, "attempted": attempted, "failed": failed,
            "correct": wrong == 0 and not chk["failed"] and not warm_failures,
            "spans": spans}


def _ts(iso: str) -> float:
    return datetime.strptime(iso.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _run_ingest(spark, wl, args, setup_s, info) -> dict:
    from perfbench.ingest import WARM_BATCHES

    trace = args.trace == 1
    spans = tr.Spans(trace)
    t = time.perf_counter()
    with tr.RssSampler() as rss:
        res = wl.run_window(spark, trace)
    info["window_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wrong_sink, foot = wl.check(spark, res, args.corrupt)
    info["check_s"] = time.perf_counter() - t
    n_batches = len(wl.paths)
    fresh = wl.freshness(res)
    measured = [b for b in res["committed_at"] if b >= WARM_BATCHES]
    rows = sum(res["rows"][b] for b in measured)
    # per second of the engine's micro-batch time, not of the wall: the
    # open loop's arrival schedule would otherwise set the figure
    proc_s = wl.processing_s(res)
    rps = rows / proc_s if proc_s > 0 else 0.0
    m = _common(setup_s, info, rss.peak_kb, rps, fresh or [0.0])
    reads = res["reads"][False] + res["reads"][True]
    n_reads = len(reads)
    attempted = n_batches + n_reads + 1
    failed = n_batches - len(res["committed_at"]) + len(res["failures"])
    wrong = res["read_wrong"] + (1 if wrong_sink else 0)
    m["harness.fail_frac"] = failed / attempted
    m["harness.wrong_frac"] = wrong / (n_reads + 1)
    wa = (foot["sink_bytes"] + foot["ckpt_bytes"]) / res["input_bytes"]
    sa = foot["sink_bytes"] / foot["compact_bytes"] if foot["compact_bytes"] else 0.0
    lines = _header(wl, args, setup_s, info)
    lines.append(_fmt("rows_per_s", rps, "rows/s",
                      f"{rows} rows committed from {len(measured)} measured batches "
                      f"(+{WARM_BATCHES} warm-up) of {wl.rows} rows every {wl.interval_s:g} s "
                      f"in {proc_s:.2f} s of micro-batch time; steal {100 * rss.steal_frac:.1f}%"))
    lines += _latency_lines("freshness_s", fresh or [0.0])
    lines.append("  per batch: " + ", ".join(f"{x:.3f}" for x in fresh))
    lines.append(_fmt("read_s_p50", tr.median(reads or [0.0]), "s", f"n={n_reads}"))
    lines.append(_fmt("write_amp", wa, "B/B", "sink + checkpoint bytes per input byte"))
    lines.append(_fmt("space_amp", sa, "B/B", "sink bytes per compact write of live rows"))
    lines.append(_fmt("peak_rss_mb", m["harness.peak_rss_mb"], "MB",
                      "driver JVM + Python workers (PSS)"))
    lines.append(_fmt("fail_frac", m["harness.fail_frac"], "ratio", f"{failed}/{attempted}"))
    lines.append(_fmt("wrong_frac", m["harness.wrong_frac"], "ratio",
                      f"{wrong}/{n_reads + 1} reads + final sink"))
    for msg in res["failures"] + wrong_sink:
        lines.append(f"  ! {msg}")
    if trace:
        prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]

        def dur(k):
            return tr.median([p["durationMs"].get(k, 0) / 1000 for p in prog]) if prog else 0.0

        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        m.update({
            "streaming.batch_s": dur("triggerExecution"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.get_batch_s": dur("getBatch"),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_mb": state[-1]["memoryUsedBytes"] / 2**20 if state else 0.0,
            "streaming.dropped_rows": sum(
                s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for s in state
            ),
            "sources.merge_s": tr.median([b - a for _, a, b in res["merge"]])
            if res["merge"] else 0.0,
            "sources.commits": len(res["merge"]),
            "sources.files_written": foot["files_written"],
            "sources.mb_written": foot["sink_bytes"] / 2**20,
            "sources.live_files": foot["live_files"],
            "sources.read_s_p50": tr.median(reads or [0.0]),
            "sources.write_amp": wa,
            "sources.space_amp": sa,
            "harness.generator_lag_s": max(
                (a - d for a, d in zip(res["landed"], res["due"])), default=0.0
            ),
        })
        # what a traced ingest run records beyond an untraced one is the
        # read spans, so the cost of tracing is read off the point reads
        # of alternate measured batches, traced against untraced
        un, tc = res["reads"][False], res["reads"][True]
        m["harness.trace_overhead_frac"] = (
            tr.median(tc) / tr.median(un) - 1 if un and tc else 0.0
        )
        batch_ids = {}
        for p in prog:
            start = _ts(p["timestamp"])
            batch_ids[p["batchId"]] = spans.add(
                "streaming", f"batch{p['batchId']}", start,
                start + p["durationMs"].get("triggerExecution", 0) / 1000)
        for bid, a, b in res["merge"]:
            spans.add("sources", "merge", a, b, batch_ids.get(bid))
        for a, b, key in res["read_spans"]:
            spans.add("sources", "read", a, b, None, key=key)
        st = spans.self_times()
        m["self_s.streaming"] = st.get("streaming", 0.0)
        m["self_s.sources"] = st.get("sources", 0.0)
        lines += _layer_lines(m)
    return {"metrics": m, "report": lines, "attempted": attempted, "failed": failed,
            "correct": wrong == 0, "spans": spans}


def _layer_lines(m: dict[str, float]) -> list[str]:
    lines = ["# per-layer (traced work)"]
    for k in sorted(m):
        if "." in k:
            lines.append(_fmt(k, float(m[k]), ""))
    return lines
