"""Closed-loop batch workload ``batch_mix``: the paper's MapReduce jobs
(``mr_text`` group) and the LLM-curation jobs (``llm_curate`` group).

One client runs passes back to back; a pass runs every job once. A
timed job is the operator call (``plan``) plus execution to the
``noop`` sink (``exec``). Pass ``p`` reads input directory
``1 + p % N_DIRS`` of each group, so a whole-result cache cannot pass
for a speed-up while plan and metadata caches still warm.

Before the timed window, a warm-up pass runs every job on a small
checked directory (``in0``) and writes its output to parquet; those
outputs are compared with the DuckDB oracles. Every run starts a fresh
JVM, so this pass absorbs JIT, codegen and Python-worker start-up.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import __spark_entry__ as entry
from cs537_spring2021_p3a_mapreduce_spark import catalog, mr
from cs537_spring2021_p3a_mapreduce_spark.functions import text as ftext
from cs537_spring2021_p3a_mapreduce_spark.operators import (
    dedup,
    llm,
    mapreduce_core,
    relational,
    tpch2,
)
from perfbench import gen, oracle
from perfbench import trace as tr

JOB_TIMEOUT_S = 60
# documents and orders per mr_text input dir. Measured warm on 4 vCPUs,
# one mr_text pass takes 6.5 s at 6 000 docs, 11.5 s at 24 000 and 22 s
# at 48 000: past the first few thousand docs it grows with the rows,
# led by mr_wordcount, inverted_index and heavy_hitters (three quarters
# of the pass). 16 000 keeps a campaign of some fifty fresh-JVM runs of
# both workloads within an hour; see README.md.
MR_DOCS = 16_000
CURATE_DOCS = 800  # documents and embeddings per llm_curate input dir
CHECK_SCALE = 0.1  # the warm-up/checked dir is this much smaller
N_DIRS = 2  # timed passes rotate over this many full-size dirs per group
WARM_THREADS = 4

DOCS = ("documents",)
GROUPS = {
    "mr_text": {
        "wordcount": DOCS,
        "grep_filter": DOCS,
        "distinct_keys": DOCS,
        "partitioned_sort": DOCS,
        "inverted_index": DOCS,
        "heavy_hitters": DOCS,
        "mr_wordcount": DOCS,
        "agg_pricing_summary": ("lineitem",),
        "q3_shipping_priority": ("customer", "orders", "lineitem"),
    },
    "llm_curate": {
        "dedup_exact": DOCS,
        "dedup_minhash_int": DOCS,
        "dedup_simhash_int": DOCS,
        "quality_score": DOCS,
        "bpe_encode": DOCS,
        "similarity_ann_ivf_int": ("embeddings",),
        "similarity_topk": ("embeddings",),
    },
}
MODULES = {
    name: mod.__name__.rsplit(".", 1)[1]
    for mod in (mapreduce_core, relational, tpch2, dedup, llm)
    for name in mod.QUERIES
}
OPERATOR_MODULES = ("mapreduce_core", "relational", "dedup", "llm")
OP_FIELDS = ("plan_s", "eager_jobs", "exec_s", *tr.STAGE_FIELDS, "cpu_ratio",
             *tr.PLAN_COUNTS)


class _Group:
    """One job group and its seeded input dirs."""

    def __init__(self, name: str, jobs: dict[str, tuple[str, ...]]):
        self.name = name
        self.jobs = jobs
        self.dirs: list[str] = []
        self.sizes: list[dict] = []
        self.truth: list[set] = []  # planted near-dup pairs per dir (llm_curate)

    def make_dir(self, spark, work: str, seed: int, scale: float, j: int) -> tuple:
        """Generate input dir ``j``: (path, table sizes, planted pairs)."""
        d = os.path.join(work, f"{self.name}-in{j}")
        sub_seed = seed * 1009 + j
        if self.name == "mr_text":
            n = max(int(MR_DOCS * scale), 200)
            info = gen.mr_corpus(spark, d, sub_seed, n_docs=n, n_orders=n, parts=4)
            return d, info, set()
        n = max(int(CURATE_DOCS * scale), 200)
        info = gen.curate_corpus(spark, d, sub_seed, n_docs=n, n_emb=n,
                                 dup_frac=0.2, parts=4)
        return d, info, info.pop("planted_pairs")

    def add_dir(self, made: tuple) -> None:
        d, info, truth = made
        self.dirs.append(d)
        self.sizes.append(info)
        self.truth.append(truth)

    def input_rows(self, job: str, d: int) -> int:
        return sum(self.sizes[d][t] for t in self.jobs[job])


class BatchWorkload:
    name = "batch_mix"

    def __init__(self):
        self.groups = [_Group(g, jobs) for g, jobs in GROUPS.items()]
        self.outputs: dict[str, str] = {}  # job -> parquet dir of its checked output
        self._seen: dict[tuple, object] = {}
        self._gen_args: tuple = ()

    @property
    def jobs(self) -> list[str]:
        return [j for g in self.groups for j in g.jobs]

    def generate(self, spark, work: str, seed: int, scale: float) -> None:
        """Per group, concurrently: the small checked dir and the first
        full-size dir; later full-size dirs are made when a pass first
        needs them."""
        self._gen_args = (work, seed, scale)
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            futs = [(g, pool.submit(g.make_dir, spark, work, seed, s * scale, j))
                    for g in self.groups for j, s in enumerate((CHECK_SCALE, 1.0))]
            for g, fut in futs:
                g.add_dir(fut.result())

    def bench_setup(self, spark) -> None:
        """Run the operators' own one-time set-up hooks (if any)."""
        qs = entry.queries()
        for g in self.groups:
            for name in g.jobs:
                hook = getattr(qs[name], "bench_setup", None)
                if hook is not None:
                    for d in g.dirs:
                        hook(spark, d)

    # -- warm-up pass, checked against the oracles ----------------------

    def warm_up(self, spark) -> list[str]:
        """Every job once on its group's checked dir, several at a time,
        each written to parquet. Returns the failures."""
        qs = entry.queries()
        work = self._gen_args[0]
        for g in self.groups:  # fill the relation cache before threads share it
            for tables in g.jobs.values():
                for t in tables:
                    catalog.table(spark, g.dirs[0], t)

        def one(g: _Group, name: str) -> str:
            out = os.path.join(work, "out", name)
            qs[name](spark, g.dirs[0]).write.mode("overwrite").parquet(out)
            return out

        failures = []
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            # the slow, Python-bound llm_curate jobs first, so the pass
            # does not end waiting on one of them
            futs = {n: pool.submit(one, g, n) for g in reversed(self.groups) for n in g.jobs}
            for name, fut in futs.items():
                try:
                    self.outputs[name] = fut.result(timeout=JOB_TIMEOUT_S * 4)
                except Exception as exc:  # counted in fail_frac
                    failures.append(f"{name}@in0: {exc!r}"[:300])
                    spark.sparkContext.cancelAllJobs()
        return failures

    def check(self, corrupt: bool) -> dict:
        """Compare each warm-up output with its DuckDB oracle on the same
        dir. ``corrupt`` drops one output row first (self-test)."""
        import pyarrow.parquet as pq

        oracles = entry.oracle_sql()
        out = {"checked": 0, "wrong": [], "failed": [], "outputs": {}}
        for g in self.groups:
            con = oracle.duck_con(g.dirs[0])
            for name in g.jobs:
                path = self.outputs.get(name)
                if path is None:
                    continue
                out["checked"] += 1
                try:
                    got = pq.read_table(path).to_pandas()
                    want = con.execute(oracles[name]).fetchdf()
                except Exception as exc:
                    out["failed"].append(f"{name}@in0: {exc!r}"[:300])
                    continue
                if corrupt and len(got):
                    got = got.iloc[1:]
                problems = oracle.problems(name, got, want)
                if problems:
                    out["wrong"].append(f"{name}@in0: {problems[0]}"[:300])
                elif not len(got):
                    out["wrong"].append(f"{name}@in0: degenerate 0-row output")
                out["outputs"][name] = got
            con.close()
        return out

    # -- timed window ---------------------------------------------------

    def run_window(self, spark, seconds: float, spans: tr.Spans | None) -> dict:
        """Closed loop until ``seconds`` of passes have run and the pass in
        flight is done. With ``spans`` the run is traced: pass 1 runs
        every job and records spans; its ``mr_text`` jobs are compared
        with untraced passes 0 and 2 around it, which run only that group
        (to keep the run short) and cancel the JIT's continued warming."""
        qs = entry.queries()
        sc = spark.sparkContext
        res = {"passes": [], "catalog": [], "failures": []}
        elapsed = 0.0
        p = 0
        while True:
            rec = spans if spans is not None and p == 1 else None
            groups = self.groups if spans is None or rec else self.groups[:1]
            d = 1 + p % N_DIRS
            for g in groups:
                if d == len(g.dirs):  # generated outside the window's clock
                    g.add_dir(g.make_dir(spark, *self._gen_args, d))
            tally = _Tally(traced=rec is not None)
            pass_t0 = time.time()
            pass_id = rec.add("harness", f"pass{p}", pass_t0, pass_t0) if rec else None
            w0 = time.perf_counter()
            for g in groups:
                for name, tables in g.jobs.items():
                    ok, dt = self._job(spark, sc, qs, g, name, tables, d, rec, pass_id, res)
                    tally.add(g.name, name, dt if ok else None,
                              g.input_rows(name, d) if ok else 0)
                    spark.catalog.clearCache()
            tally.wall = time.perf_counter() - w0
            elapsed += tally.wall
            res["passes"].append(tally)
            if rec:
                rec.rows[pass_id]["end"] = time.time()
            p += 1
            if elapsed >= seconds and (spans is None or p >= 3):
                break
        return res

    def _job(self, spark, sc, qs, g, name, tables, d, rec, pass_id, res):
        sf = g.dirs[d]
        timer = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        e0 = time.time()
        job_id = rec.add("job", name, e0, e0, pass_id, module=MODULES[name]) if rec else None
        try:
            for t in tables:
                c0 = time.time()
                rel = catalog.table(spark, sf, t)
                if rec:
                    # a hit returns the very relation an earlier call got
                    key = (sc.applicationId, sf, t)
                    hit = self._seen.get(key) is rel
                    self._seen[key] = rel
                    res["catalog"].append(hit)
                    rec.add("catalog", t, c0, time.time(), job_id, hit=hit)
            if rec:
                sc.setJobGroup(f"pb-{job_id}-plan", f"pb-{job_id}-plan")
            p0 = time.time()
            df = qs[name](spark, sf)
            p1 = time.time()
            if rec:
                rec.add("operators", "plan", p0, p1, job_id)
                sc.setJobGroup(f"pb-{job_id}-exec", f"pb-{job_id}-exec")
            df.write.format("noop").mode("overwrite").save()
            if rec:
                rec.add("exec", "exec", p1, time.time(), job_id)
            ok = True
        except Exception as exc:  # a failed job counts in fail_frac
            res["failures"].append(f"{name}@in{d}: {exc!r}"[:300])
            ok = False
        finally:
            timer.cancel()
            if rec:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.rows[job_id]["end"] = time.time()
        return ok, time.perf_counter() - t0

    # -- per-layer figures ----------------------------------------------

    def layer_metrics(self, spark, res: dict, spans: tr.Spans, chk: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        cat = res["catalog"]
        cat_spans = spans.by_layer("catalog")
        m["catalog.table_s"] = (
            sum(s["end"] - s["start"] for s in cat_spans) / len(cat_spans) if cat_spans else 0.0
        )
        m["catalog.hit_ratio"] = sum(cat) / len(cat) if cat else 0.0
        m.update(self._operator_metrics(spark, spans))
        mr_group, llm_group = self.groups
        m.update(_mr_layer(spark, mr_group.dirs[1]))
        m.update(_quality(spark, chk["outputs"], llm_group))
        return m

    def _operator_metrics(self, spark, spans: tr.Spans) -> dict[str, float]:
        """Per operator module, summed over the traced pass's jobs."""
        rest = tr.SparkRest(spark)
        groups = rest.jobs_by_group()
        stages = rest.stages()
        sql = rest.sql_by_description()
        acc = {mod: dict.fromkeys(OP_FIELDS, 0.0) for mod in OPERATOR_MODULES}
        exec_spans = {s["parent"]: s for s in spans.by_layer("exec")}
        plan_spans = {s["parent"]: s for s in spans.by_layer("operators")}
        for j in spans.by_layer("job"):
            a = acc[j["module"]]
            if j["id"] in plan_spans:
                a["plan_s"] += plan_spans[j["id"]]["end"] - plan_spans[j["id"]]["start"]
            ex = exec_spans.get(j["id"])
            if ex is not None:
                a["exec_s"] += ex["end"] - ex["start"]
            for phase in ("plan", "exec"):
                group = f"pb-{j['id']}-{phase}"
                gjobs = groups.get(group, [])
                if phase == "plan":
                    a["eager_jobs"] += len(gjobs)
                for gj in gjobs:
                    for sid in gj.get("stageIds", []):
                        attempts = stages.get(sid, [])
                        for k, v in tr.stage_metrics(attempts).items():
                            a[k] += v
                        if phase == "exec" and ex is not None:
                            iv = tr.stage_interval(attempts)
                            if iv is not None:
                                spans.add("spark_stage", f"stage{sid}", iv[0], iv[1], ex["id"])
                for k, v in tr.plan_counts(sql.get(group, [])).items():
                    a[k] += v
        out = {}
        for mod, a in acc.items():
            a["cpu_ratio"] = a["cpu_s"] / a["run_s"] if a["run_s"] else 0.0
            for k, v in a.items():
                out[f"operators.{mod}.{k}"] = v
        return out


class _Tally:
    """Job times, input rows and wall time of one pass."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.times: dict[str, list[float]] = {}  # group -> job times
        self.group_rows: dict[str, int] = {}
        self.by_name: dict[str, float] = {}
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0

    def add(self, group: str, name: str, dt: float | None, rows: int) -> None:
        self.attempted += 1
        if dt is None:
            self.failed += 1
        else:
            self.times.setdefault(group, []).append(dt)
            self.by_name[name] = dt
            self.rows += rows
            self.group_rows[group] = self.group_rows.get(group, 0) + rows

    def group_rate(self, group: str) -> float:
        """Input rows per second of the group's job time."""
        return self.group_rows.get(group, 0) / sum(self.times.get(group, [])) \
            if self.times.get(group) else 0.0


def _timed_noop(sc, df, group: str | None = None) -> float:
    if group:
        sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    if group:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return dt


def _mr_layer(spark, sf: str) -> dict[str, float]:
    """mr.run vs mr.run_agg with one mapper on one corpus, and the
    tokenizer's cost over a bare scan (median of three)."""
    docs = catalog.table(spark, sf, "documents")
    sc = spark.sparkContext

    def mapper(line: str):
        return ((tok, "1") for tok in line.split())

    def reducer(key, values, pid):
        return sum(1 for _ in values)

    text = docs.select("text")
    run = _timed_noop(sc, mr.mr_run(text, mapper, reducer, value_type="long"), "pb-mr-run")
    agg = _timed_noop(sc, mr.mr_run_agg(text, mapper, F.count("*")))
    bare = [_timed_noop(sc, docs.select("text")) for _ in range(3)]
    tok = [_timed_noop(sc, docs.select(F.explode(ftext.tokens("text")).alias("t")))
           for _ in range(3)]
    rest = tr.SparkRest(spark)
    stages = rest.stages()
    pairs = read = 0
    for gj in rest.jobs_by_group().get("pb-mr-run", []):
        for sid in gj.get("stageIds", []):
            for st in stages.get(sid, []):
                read += st.get("inputRecords", 0)
                pairs = max(pairs, st.get("shuffleWriteRecords", 0))
    return {
        "mr.run_s": run,
        "mr.run_agg_s": agg,
        "mr.pairs_per_record": pairs / read if read else 0.0,
        "functions.text.tokens_s": tr.median(tok) - tr.median(bare),
    }


def _quality(spark, outputs: dict, g: _Group) -> dict[str, float]:
    """Dedup recall/precision against the planted clusters and ANN
    recall against exact top-k, from the checked outputs; BPE tokens per
    second from one more run on a full-size dir."""
    m: dict[str, float] = {}
    planted = g.truth[0]
    mh = outputs.get("dedup_minhash_int")
    if mh is not None:
        found = {(min(a, b), max(a, b)) for a, b in zip(mh["a_id"], mh["b_id"])}
        m["dedup.pairs_emitted"] = float(len(found))
        hit = len(found & planted)
        m["dedup.recall"] = hit / len(planted) if planted else 0.0
        m["dedup.precision"] = hit / len(found) if found else 0.0
    ann, exact = outputs.get("similarity_ann_ivf_int"), outputs.get("similarity_topk")
    if ann is not None and exact is not None:
        want = set(zip(exact["query_id"], exact["neighbor_id"]))
        got = set(zip(ann["query_id"], ann["neighbor_id"]))
        m["llm.ann_recall_at_k"] = len(want & got) / len(want) if want else 0.0
    t0 = time.perf_counter()
    n_tokens = entry.queries()["bpe_encode"](spark, g.dirs[1]).agg(
        F.sum("n_symbols")).first()[0]
    m["llm.tokens_per_s"] = n_tokens / (time.perf_counter() - t0)
    return m
