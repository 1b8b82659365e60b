"""Benchmark entry point.

    python3 perfbench/run.py --workload local_query --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. Each run starts its own local Spark
session, builds the index from a seeded corpus, measures one workload in a
closed loop with one client for ``--seconds`` seconds, checks the outputs
outside the timed windows and prints one JSON result as its last stdout line.
``--trace 1`` prints the per-layer metrics instead of the end-to-end ones.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from inputs import TOP_K  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

# Corpus and index geometry. 4 segments of 375 docs give 4 salt slices, one
# per CPU of a 4-core host; more slices only add tasks to every Spark job.
N_DOCS = 1500
SEGMENT_SIZE = 375
NUM_SALTS = 4
NUM_BUCKETS = 4

POINT_POOL = 4000  # point queries generated per run (cycled if exhausted)
POINT_WARM = 50  # of which this many warm the reader before timing
JSON_POOL = 200
LOCAL_CHECK = (40, 20)  # disjunctive, conjunctive results checked by the oracle
BATCH_N = 50  # the traced batch probe scores N and 4N distinct queries
LUCENE_RUNS = 1  # timed Lucene-syntax requests in the traced probe
SCORE_ATOL = 1e-9

WORKLOADS = ("local_query", "json_request")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "index_bytes_per_input_byte": "ratio",
    "driver_peak_rss_mb": "MB",
}

# build output directories, by the name the layout metrics use
LAYOUT_DIRS = {"docs": "docs.parquet", "segments": "segments", "index": "index",
               "termdf": "termdf", "doclen": "doclen"}
BUILD_PHASES = {"docs": "index_build: docs", "segments": "index_build: segments",
                "merge": "index_build: merge", "termdf": "index_build: termdf"}
SPARK_FIELDS = ("jobs", "stages", "tasks", "empty_tasks", "task_run_ms",
                "sched_delay_ms", "gc_ms", "shuffle_bytes", "job_wall_ms")
SPAN_LAYERS = ("analyzer", "engine.term_dfs", "engine.arrow_rows",
               "wand.topk_rows", "boolean.topk_conj", "engine.search",
               "plans.compile", "executor.filter", "executor.hits",
               "executor.numfound", "facets")


def layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {f"{name}.ms": "ms" for name in SPAN_LAYERS}
    units["engine.fetch.ms"] = "ms"
    units.update({"engine.candidate_rows": "count",
                  "engine.candidate_blocks": "count",
                  "engine.candidate_postings": "count",
                  "wand.lookup_on": "count",
                  "executor.filter_cache.hit_ratio": "ratio",
                  "executor.filter_cache.lookups": "count"})
    for f in SPARK_FIELDS:
        units[f"spark.{f}"] = "ms" if f.endswith("_ms") else (
            "bytes" if f.endswith("bytes") else "count")
    units["spark.driver_ms"] = "ms"
    units.update({"qparser.request_ms": "ms", "qparser.spark_jobs": "count"})
    units.update({"batch.kernel_stage_ms": "ms", "batch.fixed_ms": "ms",
                  "batch.marginal_ms_per_query": "ms",
                  "batch.disj_qps": "1/s", "batch.conj_qps": "1/s"})
    units.update({"build.docs_per_s": "docs/s", "build.cpu_ms_per_doc": "ms"})
    for phase in BUILD_PHASES:
        units[f"build.{phase}_s"] = "s"
    units["build.shuffle_bytes_per_doc"] = "bytes"
    units["build.spill_bytes"] = "bytes"
    for d in LAYOUT_DIRS:
        units[f"index.bytes.{d}"] = "ratio"
    units.update({"trace.spans_off_p50_ms": "ms", "trace.spans_on_p50_ms": "ms",
                  "trace.overhead_pct": "%"})
    return units


# ------------------------------------------------------------------ helpers


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(lat_ms: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; (None, None) when there are 10 samples or fewer."""
    n = len(lat_ms)
    if n <= 10:
        return None, None
    s = sorted(lat_ms)
    return 100.0 * (n - 10) / n, s[n - 11]


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def jvm_peak_rss_kb(pid: int | None) -> int:
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with those of reaped children) of process
    ``root`` and all its descendants: here the driver, the JVM it launched
    and the Python workers the JVM forks."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process has exited
            continue
        # fields after the command name: state, ppid, ..., utime (14th of
        # the line), stime, cutime, cstime
        f = raw[raw.rindex(")") + 2:].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(p for p, (ppid, _) in procs.items() if ppid == pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def _pin_threads(cpus: set[int]) -> None:
    for tid in os.listdir("/proc/self/task"):
        try:
            os.sched_setaffinity(int(tid), cpus)
        except OSError:  # the thread has exited
            pass


@contextlib.contextmanager
def one_cpu():
    """Run every thread of this process (the client and pyarrow's pools) on
    one CPU. Spread over idle CPUs, each driver query wakes halted vCPUs,
    and on a shared host that wake-up latency, not the query, set the
    median; the JVM keeps all CPUs."""
    every = os.sched_getaffinity(0)
    _pin_threads({max(every)})
    try:
        yield
    finally:
        _pin_threads(every)


def same_ranking(got, want) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_ATOL for g, w in zip(got, want))


class Run:
    """State of one benchmark run: session, inputs, index, tallies."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.diag: dict = {}
        self.events = None
        self._oracle = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    # -------------------------------------------------------------- session
    def start_spark(self):
        from solrutils_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if self.args.trace:
            log_dir = self.work / "eventlog"
            log_dir.mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                               shuffle_partitions=4 * cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.diag["session_s"] = round(time.perf_counter() - t0, 3)
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        if self.args.trace:
            from layers import EventLog

            self.events = EventLog(self.work / "eventlog",
                                   self.spark.sparkContext.applicationId)

    def stop_spark(self) -> None:
        t0 = time.perf_counter()
        proc = getattr(self.gateway, "proc", None)
        self.diag["jvm_peak_rss_kb"] = jvm_peak_rss_kb(proc.pid if proc else None)
        self.spark.stop()
        self.gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.diag["stop_s"] = round(time.perf_counter() - t0, 3)

    # ---------------------------------------------------------------- setup
    def setup(self) -> None:
        """Materialize the seeded corpus, build the index, open it and cache
        it for serving."""
        import pyarrow.dataset as ds

        from inputs import corpus_sample, df_classes
        from solrutils_spark.index.builder import build_index
        from solrutils_spark.query.engine import IndexReader

        t0 = time.perf_counter()
        corpus_dir = self.work / "corpus"
        self.corpus = corpus_sample(self.args.seed, N_DOCS)
        self.spark.createDataFrame(self.corpus).write.parquet(str(corpus_dir))
        corpus = self.spark.read.parquet(str(corpus_dir))
        self.docs = list(zip(self.corpus["lang"], self.corpus["content"]))
        self.input_bytes = sum(len(c.encode()) for c in self.corpus["content"])
        self.diag["corpus_s"] = round(time.perf_counter() - t0, 3)

        out = self.index_dir = self.work / "index"
        self.attempted += 1
        t0, e0, cpu0 = time.perf_counter(), time.time(), tree_cpu_s(os.getpid())
        self.stats = build_index(corpus, str(out), segment_size=SEGMENT_SIZE,
                                 num_salts=NUM_SALTS, num_buckets=NUM_BUCKETS,
                                 resume=False)
        build_s = time.perf_counter() - t0
        build_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        self.build_window = (1000 * e0, 1000 * time.time())
        self.reader = IndexReader(self.spark, str(out)).cache_for_serving()
        self.diag["cache_s"] = round(time.perf_counter() - t0 - build_s, 3)
        self.n_docs = self.stats["n_docs"]
        self.metrics["build.cpu_ms_per_doc"] = 1000.0 * build_cpu_s / self.n_docs
        self.metrics["build.docs_per_s"] = self.n_docs / build_s
        self.metrics["index_bytes_per_input_byte"] = (
            sum(dir_bytes(out / d) for d in LAYOUT_DIRS.values()) / self.input_bytes)
        self.diag.update(build_s=round(build_s, 3), build_cpu_s=round(build_cpu_s, 2),
                         n_docs=self.n_docs,
                         input_bytes=self.input_bytes)

        tdf = ds.dataset(str(out / "termdf")).to_table(columns=["term", "df"])
        self.classes = df_classes(
            dict(zip(tdf.column("term").to_pylist(), tdf.column("df").to_pylist())),
            self.n_docs)

    def check_build(self) -> None:
        """n_docs, every row's content sha256 and total_tokens equal the
        corpus (the token count is the analyzer's, recomputed here)."""
        import pyarrow.parquet as pq

        from solrutils_spark.functions.analyzer import analyze

        c = self.corpus
        want = {(r, p): hashlib.sha256(x.encode()).hexdigest()
                for r, p, x in zip(c["repo"], c["path"], c["content"])}
        docs = pq.read_table(self.index_dir / "docs.parquet",
                             columns=["repo", "path", "content_sha256"])
        got = dict(zip(zip(docs.column("repo").to_pylist(),
                           docs.column("path").to_pylist()),
                       docs.column("content_sha256").to_pylist()))
        if self.stats["n_docs"] != len(want) or got != want:
            self.fail("build: docs differ from the corpus")
        tokens = sum(len(analyze(x)) for x in c["content"])
        if self.stats["total_tokens"] != tokens:
            self.fail(f"build: total_tokens {self.stats['total_tokens']} != {tokens}")

    # ------------------------------------------------------------- measuring
    def measure(self, op, items, seconds: float, min_ops: int = 1):
        """Closed loop, one client, for ``seconds`` and at least ``min_ops``
        operations: (latencies in ms, [(item, result)], wall s)."""
        lat, results, i = [], [], 0
        t_end = time.perf_counter() + seconds
        t_begin = time.perf_counter()
        while time.perf_counter() < t_end or i < min_ops:
            item = items[i % len(items)]
            i += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                res = op(item)
            except Exception:
                traceback.print_exc()
                self.fail(f"operation raised: {item!r}")
                continue
            lat.append(1000.0 * (time.perf_counter() - t0))
            results.append((item, res))
        return lat, results, time.perf_counter() - t_begin

    def measure_workload(self, op, items, check) -> None:
        """Untraced window → end-to-end metrics. With --trace, a window of
        the same length turns spans on for a random half of the operations:
        the difference of the two medians is the tracing overhead, and the
        spans-on operations give the layer metrics."""
        seconds = self.args.seconds
        self.metrics["setup_s"] = time.perf_counter() - T_START
        if not self.args.trace:
            lat, results, wall = self.measure(op, items, seconds)
            t0 = time.perf_counter()
            check(results)
            self.diag["check_s"] = round(time.perf_counter() - t0, 3)
            self.metrics["op_p50_ms"] = median(lat)
            pct, val = tail(lat)
            self.diag.update(ops=len(lat), ops_per_s=len(lat) / wall,
                             op_tail_pct=pct, op_tail_ms=val)
            return

        from layers import Tracer, trace_library
        from solrutils_spark.query.wand import KERNEL_STATS

        # spans are on for one operation of each consecutive pair, which one
        # by a seeded coin: both halves see the same host and warm-up state,
        # and the same mix of query shapes (the generators cycle shapes by
        # position, which strict alternation would split between the halves)
        tracer = Tracer()
        windows, off, on = [], [], []
        coin = random.Random(f"trace:{self.args.seed}")
        calls, first_on, lookup_on = 0, True, 0

        def alternating(item):
            nonlocal calls, first_on, lookup_on
            if calls % 2 == 0:
                first_on = coin.random() < 0.5
            calls += 1
            if (calls % 2 == 1) != first_on:
                t0 = time.perf_counter()
                res = op(item)
                off.append(1000.0 * (time.perf_counter() - t0))
                return res
            lookup0 = KERNEL_STATS["lookup_on"]
            trace_library(tracer)
            e0, t0 = 1000 * time.time(), time.perf_counter()
            try:
                with tracer.span("op"):
                    res = op(item)
            finally:
                tracer.restore()
            on.append(1000.0 * (time.perf_counter() - t0))
            windows.append((e0, 1000 * time.time()))
            lookup_on += KERNEL_STATS["lookup_on"] - lookup0
            return res

        _, results, _ = self.measure(alternating, items, seconds, min_ops=2)
        check(results)
        n = max(1, len(on))
        m = self.metrics
        for name in SPAN_LAYERS:
            m[f"{name}.ms"] = tracer.total_ms(name) / n
        m["engine.fetch.ms"] = tracer.self_ms("engine.fetch") / n
        for c in ("engine.candidate_rows", "engine.candidate_blocks",
                  "engine.candidate_postings", "executor.filter_cache.lookups"):
            m[c] = tracer.counts[c] / n
        lookups = tracer.counts["executor.filter_cache.lookups"]
        m["executor.filter_cache.hit_ratio"] = (
            tracer.counts["executor.filter_cache.hits"] / lookups if lookups else 0.0)
        m["wand.lookup_on"] = lookup_on / n
        self.events.poll()
        spark = {f: 0.0 for f in SPARK_FIELDS}
        for w0, w1 in windows:
            for f, v in self.events.summary(self.events.jobs_between(w0, w1)).items():
                if f in spark:
                    spark[f] += v
        for f, v in spark.items():
            m[f"spark.{f}"] = v / n
        m["spark.driver_ms"] = tracer.total_ms("op") / n - m["spark.job_wall_ms"]
        m["trace.spans_off_p50_ms"] = median(off)
        m["trace.spans_on_p50_ms"] = median(on)
        m["trace.overhead_pct"] = 100.0 * (median(on) / median(off) - 1.0)
        self.diag.update(ops=len(off), traced_ops=len(on))

    # ------------------------------------------------------------ workloads
    def local_query(self) -> None:
        from inputs import point_queries
        from solrutils_spark.query.exact import query_terms

        reader = self.reader
        pool = point_queries(self.args.seed, self.classes, self.docs,
                             POINT_WARM + POINT_POOL)
        warm, items = pool[:POINT_WARM], pool[POINT_WARM:]
        # The reader caches each term's df after its first sidecar read. Load
        # the whole pool's dfs now, so every timed query sees the same cache:
        # otherwise the median fell as the cache filled, by how many queries
        # the host let a run make.
        reader.term_dfs(sorted({t for _, q in pool for t in query_terms(q)}))

        def op(item):
            kind, text = item
            if kind == "conj":
                return reader.search_conj_local(text, TOP_K)
            return reader.search_local(text, TOP_K)

        with one_cpu():
            for item in warm:
                op(item)
            self.measure_workload(op, items, self.check_local)

    def oracle(self):
        """The pure-Python BM25 oracle over the built docs table."""
        if self._oracle is None:
            import pyarrow.parquet as pq

            from solrutils_spark.oracle.reference_bm25 import OracleIndex

            docs = pq.read_table(self.index_dir / "docs.parquet",
                                 columns=["doc_id", "content"])
            self._oracle = OracleIndex(list(zip(docs.column("doc_id").to_pylist(),
                                                docs.column("content").to_pylist())))
        return self._oracle

    def check_ranked(self, kind: str, text: str, got) -> None:
        """``got`` must be rank- and score-identical to the oracle."""
        o = self.oracle()
        want = (o.search_conj if kind == "conj" else o.search)(text, TOP_K)
        if not same_ranking(got, want):
            self.fail(f"{kind} top-{TOP_K} differs from the oracle: {text!r}")

    def check_local(self, results) -> None:
        """Every result is ranked and non-empty; a seeded sample must be
        rank- and score-identical to the oracle."""
        first = {}
        for item, res in results:
            scores = [s for _, s in res]
            if scores != sorted(scores, reverse=True) or not res:
                self.fail(f"local result not ranked or empty: {item!r}")
            first.setdefault(item, res)
        rng = random.Random(f"check:{self.args.seed}")
        for kind, n in (("disj", LOCAL_CHECK[0]), ("conj", LOCAL_CHECK[1])):
            texts = sorted(t for k, t in first if k == kind)
            for t in rng.sample(texts, min(n, len(texts))):
                self.check_ranked(kind, t, first[(kind, t)])

    def executor(self):
        from inputs import REQUEST_MODEL
        from solrutils_spark.operators.executor import PlanExecutor
        from solrutils_spark.plans.model import SearchModel

        model = SearchModel(REQUEST_MODEL)
        ex = PlanExecutor(self.reader.docs, self.reader)
        return lambda req: ex.search(model, req)

    def json_request(self) -> None:
        from inputs import FQ_LANGS, json_requests

        search = self.executor()
        pool = json_requests(self.args.seed, self.classes, self.docs,
                             len(FQ_LANGS) + JSON_POOL)
        # warm-up: one request per filter value fills the filter cache
        warm, items = pool[:len(FQ_LANGS)], pool[len(FQ_LANGS):]
        for req in warm:
            search(req)
        self.measure_workload(search, items, self.check_json)

    def check_json(self, results) -> None:
        """Docs satisfy the fq, come back by descending score, and numFound
        equals the sum of the lang facet counts."""
        for req, rsp in results:
            docs = rsp["response"]["docs"]
            lang = req["filter"]["lang"]
            scores = [d["score"] for d in docs]
            buckets = rsp["facets"]["lang"]["buckets"]
            if any(d["lang"] != lang for d in docs):
                self.fail(f"json doc outside fq: {req['query']!r}")
            elif scores != sorted(scores, reverse=True):
                self.fail(f"json docs not by score: {req['query']!r}")
            elif rsp["response"]["numFound"] != sum(b["count"] for b in buckets):
                self.fail(f"json numFound != facet total: {req['query']!r}")

    # -------------------------------------------------------- traced extras
    def lucene_probe(self) -> None:
        """Lucene-syntax requests (``+a "b c" -d``): query.qparser and the
        phrase kernel behind PlanExecutor. One warm-up, then LUCENE_RUNS."""
        from inputs import lucene_requests

        search = self.executor()
        reqs = lucene_requests(self.args.seed, self.classes, self.docs,
                               1 + LUCENE_RUNS)
        search(reqs[0])
        lat, jobs, results = [], [], []
        for req in reqs[1:]:
            self.attempted += 1
            e0, t0 = 1000 * time.time(), time.perf_counter()
            results.append((req, search(req)))
            lat.append(1000.0 * (time.perf_counter() - t0))
            self.events.poll()
            jobs.append(len(self.events.jobs_between(e0, 1000 * time.time())))
        self.check_json(results)
        self.metrics["qparser.request_ms"] = median(lat)
        self.metrics["qparser.spark_jobs"] = median(jobs)

    def batch_probe(self) -> None:
        """search_batch at N and 4N distinct queries (alternating, 3 each)
        → fixed cost and marginal cost per query; conj batch at 4N."""
        from inputs import point_queries

        pool = point_queries(self.args.seed + 7919, self.classes, self.docs,
                             12 * BATCH_N)
        disj = [t for k, t in pool if k == "disj"]
        conj = [t for k, t in pool if k == "conj"][: 4 * BATCH_N]
        r = self.reader

        def timed(fn, texts):
            e0, t0 = 1000 * time.time(), time.perf_counter()
            fn([(i, t, TOP_K) for i, t in enumerate(texts)]).count()
            return time.perf_counter() - t0, (e0, 1000 * time.time())

        timed(r.search_batch, disj[:BATCH_N])  # warm the plan shape
        small, big, big_windows = [], [], []
        for rep in range(3):
            small.append(timed(r.search_batch, disj[rep * BATCH_N:(rep + 1) * BATCH_N])[0])
            s, w = timed(r.search_batch, disj[-4 * BATCH_N:])
            big.append(s)
            big_windows.append(w)
        timed(r.search_conj_batch, conj[:BATCH_N])
        conj_s = median([timed(r.search_conj_batch, conj)[0] for _ in range(2)])
        for kind, batch, texts in (("disj", r.search_batch, disj[:BATCH_N]),
                                   ("conj", r.search_conj_batch, conj[:BATCH_N])):
            self.attempted += 1
            rows: dict[int, list] = {}
            for row in batch([(i, t, TOP_K) for i, t in enumerate(texts)]).collect():
                rows.setdefault(row["query_id"], []).append(
                    (row["rank"], row["doc_id"], row["score"]))
            for i, t in enumerate(texts):
                self.check_ranked(kind, t, [(d, s) for _, d, s in sorted(rows.get(i, []))])
        t1, t4 = median(small), median(big)
        marginal = (t4 - t1) / (3 * BATCH_N)
        m = self.metrics
        m["batch.marginal_ms_per_query"] = 1000.0 * marginal
        m["batch.fixed_ms"] = 1000.0 * (t1 - BATCH_N * marginal)
        m["batch.disj_qps"] = 4 * BATCH_N / t4
        m["batch.conj_qps"] = len(conj) / conj_s
        self.events.poll()
        m["batch.kernel_stage_ms"] = median([
            self.events.stage_ms(self.events.jobs_between(*w), "FlatMapGroupsInPandas")
            for w in big_windows])

    def build_layers(self) -> None:
        ev, m = self.events, self.metrics
        ev.poll()
        jobs = ev.jobs_between(*self.build_window)
        for phase, prefix in BUILD_PHASES.items():
            m[f"build.{phase}_s"] = ev.summary(
                [j for j in jobs if j["desc"].startswith(prefix)])["job_wall_ms"] / 1000.0
        total = ev.summary(jobs)
        m["build.shuffle_bytes_per_doc"] = total["shuffle_bytes"] / self.n_docs
        m["build.spill_bytes"] = total["spill_bytes"]
        for name, d in LAYOUT_DIRS.items():
            m[f"index.bytes.{name}"] = dir_bytes(self.index_dir / d) / self.input_bytes


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("solrutils_spark") is None:
        print("perfbench: solrutils_spark not found; run from a source checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    from host import HostProbe

    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    probe = HostProbe()
    run = Run(args, work)
    try:
        run.start_spark()
        try:
            run.setup()
            getattr(run, args.workload)()
            if args.trace:
                run.lucene_probe()
                run.batch_probe()
                run.build_layers()
            run.check_build()
        finally:
            rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            run.stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    run.metrics["driver_peak_rss_mb"] = rss_kb / 1024.0
    run.diag["host"] = probe.report()
    run.diag["error_rate"] = run.failed / max(1, run.attempted)
    print(json.dumps({"diagnostics": run.diag}))
    units = layer_units() if args.trace else E2E_UNITS
    values = {k: run.metrics[k] for k in units}
    finite = all(math.isfinite(v) for v in values.values())
    print(json.dumps({
        "correct": run.failed == 0 and finite,
        "attempted": run.attempted,
        "failed": run.failed,
        # a metric with no samples (every operation failed) prints as 0
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
