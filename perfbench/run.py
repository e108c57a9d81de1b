"""Layer-attributed benchmark of the web-text quality engine.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny, all checks

Run from the repository root.  One process, one SparkSession on
local[N], N = $SPARK_GRAFT_CPUS or the cores this process may use.  Each
workload is a closed loop: one operation at a time, the next starting when
the previous one has ended, for --seconds.  The last stdout line is the
result JSON; with --trace 0 it carries the end-to-end metrics, with
--trace 1 the per-layer ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("filter", "dedup")
N_BUCKETS = 4
# every run times at least this many operations, and the end-to-end CPU
# figure is the median of the first ones: operation costs keep falling for
# several operations (JIT), so a fixed count reads the same points of that
# curve whatever the host's speed; a dedup pass alone takes 8-11 s
FIRST_OPS = 3
SIZES = {
    # pages (+ long tail) for filter; base documents (+ planted families) for dedup
    "full": {"pages": 2000, "tail": 20, "dedup_docs": 500, "families": 20, "kernel_docs": 300},
    "smoke": {"pages": 120, "tail": 2, "dedup_docs": 200, "families": 8, "kernel_docs": 20},
}
MB = 1e6


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def host_cores() -> int:
    """$SPARK_GRAFT_CPUS, else every core this process may run on; never
    more cores than the host has."""
    nproc = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    n = int(want) if want else nproc
    if not 1 <= n <= nproc:
        raise SystemExit(f"refusing local[{n}]: this host has {nproc} cores")
    return n


def busy_loop_s(iters: int = 2_000_000, reps: int = 3) -> float:
    """Best-of-3 pure-Python loop: a host speed reading kept with results."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(iters):
            x += i
        best = min(best, time.perf_counter() - t0)
    return best


def _tree_stats() -> dict[int, list[str]]:
    """pid → /proc/<pid>/stat fields (from field 3 on) of this process and
    all its descendants: the JVM, its Python daemon and workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we looked
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    /proc/stat: steal is time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children included."""
    return sum(sum(int(x) for x in f[11:15]) for f in _tree_stats().values()) / _TICK


def jit_cpu_s(jvm: int) -> float:
    """User + system CPU seconds of the JVM's JIT compiler threads.  The
    session keeps them alive for the whole run
    (-XX:-UseDynamicNumberOfCompilerThreads), so the sum only grows."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the thread ended while we looked
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


class PeakRss:
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss() -> int:
        return sum(int(f[21]) for f in _tree_stats().values()) * _PAGE

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


class Tracer:
    """In-memory spans (name, start, end, parent) around the benchmark's own
    calls into each layer; a no-op when tracing is off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str) -> list[dict]:
        """Spans called `name` inside a timed operation (a "rep" span)."""
        out = []
        for s in self.spans:
            if s["name"] == name:
                root = s
                while root["parent"] is not None:
                    root = self.spans[root["parent"]]
                if root["name"] == "rep":
                    out.append(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Ctx:
    """What every workload shares: the session, its status store, the tracer."""

    def __init__(self, cores: int, work: str, tracer: Tracer, size: dict):
        self.cores = cores
        self.work = work
        self.tracer = tracer
        self.size = size
        self.spark = self.store = None

    def attach(self, spark) -> None:
        from perfbench.statusstore import StatusStore

        self.spark = spark
        self.store = StatusStore(spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def pages_layers(ctx: Ctx, pages, input_path: str, oracle: list[bool]) -> tuple[dict, list[str]]:
    """Wall time of plans that each force one pipeline layer over a pages
    table, Spark's counters of the analyze and write plans, then the bucketed
    path (`pipeline.run(buckets=N)` plus a resume that must commit nothing)
    over the same table.  Returns (metrics, problems)."""
    from pyspark.sql import functions as F

    from data_quality_spark import decide, pipeline, rules, scrub
    from data_quality_spark.analyze import ANALYSIS_SCHEMA, with_analysis
    from data_quality_spark.sources.iceberg import write_output
    from perfbench.checks import check_bucket_metrics, check_pages_output, read_pages_output

    spark, span, store = ctx.spark, ctx.tracer.span, ctx.store
    df = spark.read.parquet(input_path)
    out: dict[str, float] = {}

    def timed(name: str, fn) -> float:
        with span(name) as s:
            fn()
        return s["end"] - s["start"]

    out["sources.scan_s"] = timed("layer.scan", lambda: df.select(
        F.max(F.xxhash64("url", "warc_ts", "text", "lang"))).collect())
    mark = store.mark()
    cols = [f.name for f in ANALYSIS_SCHEMA.fields]
    out["analyze.layer_s"] = timed("layer.analyze", lambda: with_analysis(df).select(
        F.max(F.xxhash64(*cols))).collect())
    nodes = store.sql_nodes(mark)
    out["analyze.python_run_s"] = nodes.get(("ArrowEvalPython", "time to run Python workers"), 0.0)
    out["analyze.mb_to_python"] = nodes.get(("ArrowEvalPython", "data sent to Python workers"), 0.0) / MB
    out["analyze.mb_from_python"] = nodes.get(("ArrowEvalPython", "data returned from Python workers"), 0.0) / MB
    out["scrub.layer_s"] = timed("layer.scrub", lambda: df.select(
        F.max(F.xxhash64(scrub.scrub_expr(F.col("text"))))).collect())
    out["scrub.mb_per_s"] = pages.text_bytes / MB / out["scrub.layer_s"]
    analyzed = with_analysis(df).localCheckpoint(eager=True)
    out["rules.layer_s"] = timed("layer.rules", lambda: decide.with_decision(
        rules.attach_rules(analyzed)).select(F.max(F.xxhash64("keep", "reasons"))).collect())
    final = pipeline.apply_quality_pipeline(df).select(*pipeline.output_columns()).localCheckpoint(eager=True)
    one_shot = ctx.path("layer_write")
    mark = store.mark()
    out["sources.write_s"] = timed("layer.write", lambda: write_output(
        final, one_shot, "parquet", partition_by=["keep"]))
    nodes = store.sql_nodes(mark)
    write = "Execute InsertIntoHadoopFsRelationCommand"
    out["sources.files_written"] = nodes.get((write, "number of written files"), 0.0)
    out["sources.output_mb"] = nodes.get((write, "written output"), 0.0) / MB

    problems = []
    bout, every = ctx.path("bucketed"), list(range(N_BUCKETS))
    mark = store.mark()
    start = time.time()
    with span("checkpoint.run") as s:
        first = pipeline.run(input_path, bout, buckets=N_BUCKETS)
    out["checkpoint.run_s"] = s["end"] - s["start"]
    stages = store.since(mark)
    if first["processed_buckets"] != every:
        problems.append(f"the bucketed run committed {first['processed_buckets']}")
    with span("checkpoint.resume"):
        again = pipeline.run(input_path, bout, buckets=N_BUCKETS)
    if again["processed_buckets"] or again["skipped_buckets"] != every:
        problems.append(f"resume committed {again['processed_buckets']}")
    marks = sorted(os.path.getmtime(os.path.join(bout, f"bucket={b}", "_DQ_DONE")) for b in every)
    problems += check_bucket_metrics(bout, N_BUCKETS, pages.n)
    rows = read_pages_output(bout)
    problems += [f"bucketed: {p}" for p in check_pages_output(pages, oracle, rows)]
    if {(u, k) for u, k, _ in rows} != {(u, k) for u, k, _ in read_pages_output(one_shot)}:
        problems.append("bucketed (url, keep) set differs from the one-shot output")
    out.update({
        "checkpoint.buckets_committed": float(len(first["processed_buckets"])),
        "checkpoint.jobs": stages["jobs"],
        "checkpoint.scan_amplification": stages["input_records"] / pages.n,
        "checkpoint.first_commit_s": marks[0] - start,
        "checkpoint.commit_p50_s": _median([b - a for a, b in zip([start] + marks, marks)]),
    })
    return out, problems


def dedup_pass(ctx: Ctx, docs_path: str):
    """MinHash pairs → connected components → survivors, each step
    materialized in its own span.  Returns (pairs, clusters, survivors)."""
    from pyspark.sql import functions as F

    from data_quality_spark.operators.dedup import cluster_survivors, minhash_near_duplicates
    from data_quality_spark.operators.matching import cluster_matches

    spark, span = ctx.spark, ctx.tracer.span
    spark.catalog.clearCache()
    docs = spark.read.parquet(docs_path)
    with span("dedup.minhash"):
        pairs = minhash_near_duplicates(docs, "text", "id").localCheckpoint(eager=True)
    with span("dedup.cc") as s:
        mark = ctx.store.mark() if s else None
        clusters = cluster_matches(pairs)
        if s:
            s["jobs"] = ctx.store.since(mark)["jobs"]
    with span("dedup.survivors"):
        lengths = docs.select("id", F.length("text").alias("len"))
        survivors = cluster_survivors(clusters.join(lengths, "id"), "len", "id").collect()
    return pairs, clusters, survivors


def dedup_layers(ctx: Ctx, docs_path: str, verified: int, steps: dict[str, list[dict]]) -> dict:
    """`steps`: the dedup.minhash/cc/survivors spans to summarize."""
    from data_quality_spark.operators.dedup import minhash_near_duplicates

    docs = ctx.spark.read.parquet(docs_path)
    candidates = minhash_near_duplicates(docs, "text", "id", threshold=0.0).count()
    return {
        "dedup.minhash_s": _median([s["end"] - s["start"] for s in steps["minhash"]]),
        "dedup.cc_s": _median([s["end"] - s["start"] for s in steps["cc"]]),
        "dedup.survivors_s": _median([s["end"] - s["start"] for s in steps["survivors"]]),
        "dedup.candidate_pairs": float(candidates),
        "dedup.verified_pairs": float(verified),
        "dedup.candidate_precision": verified / candidates if candidates else 0.0,
        "dedup.cc_jobs": _median([s["jobs"] for s in steps["cc"]]),
    }


def check_dedup_pass(corpus, result) -> list[str]:
    from perfbench.checks import check_dedup

    pairs, clusters, survivors = result
    return check_dedup(corpus, [tuple(r) for r in pairs.collect()],
                       [tuple(r) for r in clusters.collect()], [tuple(r) for r in survivors])


class FilterWorkload:
    """The one-shot flagship path, `pipeline.run`: one write, partitioned by
    `keep`."""

    def __init__(self, ctx: Ctx, seed: int):
        from perfbench.inputs import make_pages, write_pages

        self.ctx = ctx
        self.pages = make_pages(ctx.size["pages"], ctx.size["tail"], seed)
        self.input = ctx.path("pages")
        write_pages(self.pages, self.input, ctx.cores)
        self.rows = self.pages.n
        self.out = ctx.path("out")
        self.problems: list[str] = []  # found while measuring layers

    @property
    def kernel_texts(self) -> list[str]:
        return self.pages.texts[: self.ctx.size["kernel_docs"]]

    def warm_up(self) -> None:
        # operation times fall ~25 % over the first two operations (JIT,
        # Python worker caches), then flatten; time the flatter part
        self.op()
        self.op()

    def op(self) -> bool:
        from data_quality_spark import pipeline

        with self.ctx.tracer.span("pipeline.run"):
            m = pipeline.run(self.input, self.out)
        return m.get("rows_total") == self.rows

    @functools.cached_property
    def oracle(self) -> list[bool]:
        from perfbench.checks import oracle_keeps

        return oracle_keeps(self.pages.texts, self.ctx.cores)

    def check(self) -> list[str]:
        from perfbench.checks import check_pages_output, read_pages_output

        return self.problems + check_pages_output(self.pages, self.oracle, read_pages_output(self.out))

    def layers(self, rep_s: float) -> dict[str, float]:
        """The pipeline layers over this input, then one dedup pass over its
        first texts, so that every layer reads a measured time."""
        from perfbench.inputs import DedupCorpus, write_dedup_corpus

        out, problems = pages_layers(self.ctx, self.pages, self.input, self.oracle)
        out["bench.layer_coverage"] = sum(out[k] for k in (
            "sources.scan_s", "analyze.layer_s", "scrub.layer_s", "rules.layer_s", "sources.write_s")) / rep_s
        n = min(self.rows, self.ctx.size["dedup_docs"])  # bounds the cost of this cold pass
        corpus = DedupCorpus(list(range(n)), self.pages.texts[:n], [])
        docs = self.ctx.path("as_docs")
        write_dedup_corpus(corpus, docs, self.ctx.cores)
        n0 = len(self.ctx.tracer.spans)
        result = dedup_pass(self.ctx, docs)
        steps = {k: [s for s in self.ctx.tracer.spans[n0:] if s["name"] == f"dedup.{k}"]
                 for k in ("minhash", "cc", "survivors")}
        out.update(dedup_layers(self.ctx, docs, result[0].count(), steps))
        problems += [f"dedup over pages: {p}" for p in check_dedup_pass(corpus, result)]
        self.problems += problems
        return out


class DedupWorkload:
    """MinHash near-duplicates → connected components → one survivor per
    cluster, over a corpus with planted near-duplicate families."""

    def __init__(self, ctx: Ctx, seed: int):
        from perfbench.inputs import make_dedup_corpus, write_dedup_corpus

        self.ctx = ctx
        self.corpus = make_dedup_corpus(ctx.size["dedup_docs"], ctx.size["families"], seed)
        self.input = ctx.path("docs")
        write_dedup_corpus(self.corpus, self.input, ctx.cores)
        self.rows = len(self.corpus.ids)
        self.problems: list[str] = []  # found while measuring layers
        self.last = None

    @property
    def kernel_texts(self) -> list[str]:
        return self.corpus.texts[: self.ctx.size["kernel_docs"]]

    def warm_up(self) -> None:
        # the JIT keeps compiling for several passes, but its threads' CPU is
        # left out of the measure; without them the second pass costs about
        # what later ones do
        self.op()

    def op(self) -> bool:
        self.last = dedup_pass(self.ctx, self.input)
        return len(self.last[2]) > 0

    def check(self) -> list[str]:
        return self.problems + check_dedup_pass(self.corpus, self.last)

    def layers(self, rep_s: float) -> dict[str, float]:
        """The dedup steps of the timed operations, then the pipeline layers
        over this corpus as a pages table, so that every layer reads a
        measured time."""
        from perfbench.checks import oracle_keeps
        from perfbench.inputs import Pages, write_pages

        tr = self.ctx.tracer
        steps = {k: tr.timed(f"dedup.{k}") for k in ("minhash", "cc", "survivors")}
        out = dedup_layers(self.ctx, self.input, self.last[0].count(), steps)
        out["bench.layer_coverage"] = sum(
            out[k] for k in ("dedup.minhash_s", "dedup.cc_s", "dedup.survivors_s")) / rep_s
        pages = Pages([f"https://dedup.example.org/doc/{i}" for i in self.corpus.ids],
                      self.corpus.texts, ["near_dup"] * self.rows, [()] * self.rows)
        path = self.ctx.path("as_pages")
        write_pages(pages, path, self.ctx.cores)
        layer, problems = pages_layers(self.ctx, pages, path, oracle_keeps(pages.texts, self.ctx.cores))
        out.update(layer)
        self.problems += [f"pipeline over the corpus: {p}" for p in problems]
        return out


# ---------------------------------------------------------------------------
# one workload, start to end
# ---------------------------------------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: dict,
                 cores: int, t_start: float, spark=None) -> tuple[dict, object]:
    """Returns (result, spark).  `t_start` is when set-up began: before the
    imports for the first workload of a process."""
    work = os.path.join(scratch_root(), name)
    os.makedirs(work)
    host_busy = busy_loop_s()
    import perfbench.inputs  # noqa: F401  (importing pyspark and the engine is set-up, not input generation)

    tracer = Tracer(trace)
    ctx = Ctx(cores, work, tracer, size)
    t_gen = time.perf_counter()
    wl = DedupWorkload(ctx, seed) if name == "dedup" else FilterWorkload(ctx, seed)
    input_gen = time.perf_counter() - t_gen
    if spark is None:
        spark = start_session(cores)
    ctx.attach(spark)
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    with tracer.span("warm_up"):
        wl.warm_up()
    setup_s = time.perf_counter() - t_start - input_gen - host_busy

    reps: list[tuple[float, float, bool, bool]] = []  # (seconds, cpu seconds, ok, traced)
    jit: list[float] = []  # JIT compiler CPU seconds of each operation
    stage_tot: dict[str, float] = {}
    scanned_bytes = trace_cost = 0.0
    traced_walls: list[float] = []
    steal0, total0 = host_cpu_ticks()
    with PeakRss() as rss:
        t_loop = time.perf_counter()
        # a traced run alternates plain and traced operations
        while len(reps) < FIRST_OPS or time.perf_counter() - t_loop < seconds:
            traced = trace and len(reps) % 2 == 1
            t_mark = time.perf_counter()
            mark = ctx.store.mark() if traced else None
            reading = time.perf_counter() - t_mark
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s(jvm)
            with tracer.span("rep", index=len(reps), traced=traced):
                t0 = time.perf_counter()
                try:
                    ok = wl.op()
                except Exception:  # a failed operation is counted, not fatal
                    traceback.print_exc()
                    ok = False
                dt = time.perf_counter() - t0
            cpu1, jit1 = tree_cpu_s(), jit_cpu_s(jvm)
            # compiling is the JVM warming, not the operation's work: it is
            # most of the spread between runs and falls operation by operation
            reps.append((dt, cpu1 - cpu0 - (jit1 - jit0), ok, traced))
            jit.append(jit1 - jit0)
            if traced:
                t_read = time.perf_counter()
                for k, v in ctx.store.since(mark).items():
                    stage_tot[k] = stage_tot.get(k, 0.0) + v
                scanned_bytes += ctx.store.sql_nodes(mark).get(("Scan parquet", "size of files read"), 0.0)
                trace_cost += reading + time.perf_counter() - t_read
                traced_walls.append(dt)

    steal1, total1 = host_cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    failed = sum(1 for *_, ok, _ in reps if not ok)
    plain = [dt for dt, _, ok, tr in reps if ok and not tr]
    end_to_end, per_layer = metric_units()
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "cpu_ms_per_row": _median([cpu / wl.rows * 1e3 for _, cpu, ok, _ in reps[:FIRST_OPS] if ok]),
        }
        units = end_to_end
    else:
        from perfbench.kernels import kernel_us_per_doc

        n_tr = max(1, len(traced_walls))
        per = {k: v / n_tr for k, v in stage_tot.items()}
        rep_s = _median(plain) or _median(traced_walls)
        metrics = {
            "sources.rows_scanned": per.get("input_records", 0.0),
            "sources.mb_scanned": scanned_bytes / n_tr / MB,
            "sources.scan_amplification": per.get("input_records", 0.0) / wl.rows,
            "spark.jobs": per.get("jobs", 0.0),
            "spark.stages": per.get("stages", 0.0),
            "spark.tasks": per.get("tasks", 0.0),
            "spark.task_run_s": per.get("run_s", 0.0),
            "spark.cpu_busy": stage_tot.get("run_s", 0.0) / (sum(traced_walls) * cores) if traced_walls else 0.0,
            "spark.gc_s": per.get("gc_s", 0.0),
            "spark.shuffle_mb": per.get("shuffle_write_bytes", 0.0) / MB,
            "spark.spill_mb": per.get("disk_spill_bytes", 0.0) / MB,
            "memory.peak_rss_mb": rss.peak / MB,
            "jvm.jit_cpu_s": _median(jit),
            "bench.input_gen_s": input_gen,
            # reading Spark's counters around a traced operation, against its wall
            "bench.trace_overhead": trace_cost / sum(traced_walls),
            "bench.host_busy_s": host_busy,
            "bench.steal_share": steal,
            "bench.cores": float(cores),
            "bench.rows_per_s": wl.rows / rep_s,
            "bench.reps": float(len(reps)),
        }
        metrics.update(wl.layers(rep_s))
        us = kernel_us_per_doc(wl.kernel_texts)
        for k in ("analyze", "langid", "perplexity", "textstats"):
            metrics[f"{k}.us_per_doc"] = us[k]
        units = per_layer
        tracer.write(os.path.join(STATE, "traces", f"{name}-seed{seed}.jsonl"))
    if set(metrics) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    problems = wl.check() if failed < len(reps) else ["every operation failed"]
    for p in problems:
        print(f"CHECK FAILED [{name}]: {p}", file=sys.stderr)

    print(json.dumps({"context": {
        "workload": name, "seed": seed, "cores": cores, "master": f"local[{cores}]",
        "host_busy_s": round(host_busy, 4), "input_rows": wl.rows,
        "op_s": [round(dt, 3) for dt, *_ in reps], "op_cpu_s": [round(cpu, 3) for _, cpu, *_ in reps],
        "op_jit_cpu_s": [round(j, 3) for j in jit], "setup_s": round(setup_s, 3),
        "steal_share": round(steal, 4), "rows_per_s": round(wl.rows / _median(plain), 2) if plain else 0,
        "input_gen_s": round(input_gen, 4), "problems": problems,
    }}))
    result = {
        "correct": not problems and failed < len(reps),
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, spark


def scratch_root() -> str:
    """This process's scratch directory inside the checkout."""
    return os.path.join(STATE, f"run-{os.getpid()}")


def start_session(cores: int):
    """The engine's own session factory on local[cores]; Spark's scratch
    space and the JVM's temp dir stay inside the checkout."""
    from data_quality_spark.session import get_spark

    scratch = os.path.join(scratch_root(), "spark")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={scratch}/tmp"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop Spark if this process started it, then end the JVM it launched
    and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()


def stop_resource_tracker() -> None:
    """The oracle's process pool starts multiprocessing's resource tracker,
    which otherwise lives until a moment after this process has exited."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def _alive(pid: int, start: str) -> bool:
    """Whether `pid` is still the process that started at `start` (field 22
    of its stat) and has not ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def wait_ended(procs: dict[int, list[str]], timeout: float = 60.0) -> None:
    """Wait until every process in `procs` (pid → stat fields, as from
    `_tree_stats`) has ended, reaping those that are this process's own
    children; kill those still running after `timeout` seconds."""
    start = {pid: f[19] for pid, f in procs.items() if pid != os.getpid()}
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        for pid in start:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        left = [pid for pid, st in start.items() if _alive(pid, st)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="every workload at tiny size, traced, all checks")
    a = p.parse_args(argv)
    if not a.smoke and not a.workload:
        p.error("--workload is required unless --smoke")
    if not os.path.isfile(os.path.join(ROOT, "data_quality_spark", "pipeline.py")):
        print(f"no data_quality_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    cores = host_cores()
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    sys.path.insert(0, ROOT)
    spark = None
    try:
        if not a.smoke:
            result, spark = run_workload(a.workload, a.seed, a.seconds, bool(a.trace),
                                         SIZES["full"], cores, t_start)
            print(json.dumps(result))
            return 0
        results = []
        for name in WORKLOADS:
            result, spark = run_workload(name, a.seed, 1.0, True, SIZES["smoke"], cores,
                                         time.perf_counter(), spark)
            results.append(result)
            print(json.dumps({name: result}))
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {},
        }))
        return 0
    finally:
        # every process started here (the JVM, its Python daemon and workers,
        # multiprocessing's resource tracker) has ended before this returns
        procs = _tree_stats()
        stop_session()
        stop_resource_tracker()
        wait_ended(procs)
        shutil.rmtree(scratch_root(), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
