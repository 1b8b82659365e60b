"""Per-layer instruments for the traced run.

Two sources, both kept in memory and summarised when the run ends:

- :class:`Tracer` records spans around calls into the library's layers. It
  wraps module and class attributes for the length of the traced window and
  puts the originals back afterwards; the library itself is not changed.
- :class:`EventLog` reads the Spark event log the benchmark turns on for its
  own session, and attributes jobs, stages and tasks to time windows.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans (name, start, end, parent) and counters, grouped by operation."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((idx, name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            i, n, t0, _, p = self.spans[idx]
            self.spans[idx] = (i, n, t0, time.perf_counter(), p)

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[name] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``;
        ``after(tracer, args, kwargs, result)`` may add counters."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(self, args, kwargs, result)
            return result

        self.patch(owner, attr, traced)

    def wrap_by_caller(self, owner, attr: str, names: dict[str, str]) -> None:
        """Like :meth:`wrap`, but the span name depends on the calling
        function's qualified name; calls from anywhere else are not traced."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            name = names.get(sys._getframe(1).f_code.co_qualname)
            if name is None:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``; :meth:`restore` puts the original back."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(e - s for _, n, s, e, _ in self.spans if n == name)

    def self_ms(self, name: str) -> float:
        """Time in spans ``name`` minus the time their direct children cover."""
        own = {i for i, n, *_ in self.spans if n == name}
        child = sum(e - s for _, _, s, e, p in self.spans if p in own)
        return self.total_ms(name) - 1000.0 * child


def trace_library(tracer: Tracer) -> None:
    """Wrap the library's layer entry points (see README.md for the map)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from solrutils_spark.operators import executor
    from solrutils_spark.plans.model import SearchModel
    from solrutils_spark.query import boolean, engine

    def rows_out(t, _a, _k, rows):
        t.count("engine.candidate_rows", len(rows))
        t.count("engine.candidate_blocks", sum(len(r.block_offset) for r in rows))
        t.count("engine.candidate_postings", sum(int(r.df_part) for r in rows))

    # analyzer: every query-side entry analyses through query_terms
    tracer.wrap(engine, "query_terms", "analyzer")
    tracer.wrap(engine.IndexReader, "term_dfs", "engine.term_dfs")
    tracer.wrap(engine.IndexReader, "_local_rows", "engine.fetch", rows_out)
    tracer.wrap(engine, "_rows_from_arrow", "engine.arrow_rows")
    tracer.wrap(engine, "topk_rows", "wand.topk_rows")
    tracer.wrap(boolean, "topk_conj", "boolean.topk_conj")
    tracer.wrap(engine.IndexReader, "search", "engine.search")
    tracer.wrap(SearchModel, "build", "plans.compile")
    tracer.wrap(executor.PlanExecutor, "_add_facets", "facets")
    tracer.wrap(engine.IndexReader, "matching_count", "executor.numfound")
    tracer.wrap_by_caller(DataFrame, "collect",
                          {"PlanExecutor.execute": "executor.hits"})
    tracer.wrap_by_caller(DataFrame, "count",
                          {"PlanExecutor.execute": "executor.numfound"})

    cached = executor.PlanExecutor._cached_filter_ids

    def filter_ids(self, plan):
        key = tuple(sorted(plan.get_params("fq") or []))
        tracer.count("executor.filter_cache.lookups")
        if key in self._filter_cache:
            tracer.count("executor.filter_cache.hits")
        with tracer.span("executor.filter"):
            return cached(self, plan)

    tracer.patch(executor.PlanExecutor, "_cached_filter_ids", filter_ids)


# ---------------------------------------------------------------- Spark events


class EventLog:
    """Incremental reader of one application's uncompressed event log.

    Spark flushes the log at every job start/end and stage completion, so
    every job that has ended is complete in the file."""

    def __init__(self, log_dir: Path, app_id: str) -> None:
        self.log_dir, self.app_id = Path(log_dir), app_id
        self._offset = 0
        self._partial = b""
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)

    def _file(self) -> Path | None:
        # "<app id>.inprogress" while the application runs
        found = sorted(self.log_dir.glob(f"{self.app_id}*"))
        return found[0] if found else None

    def poll(self) -> None:
        f = self._file()
        if f is None:
            return
        with open(f, "rb") as fh:
            fh.seek(self._offset)
            data = fh.read()
        self._offset += len(data)
        lines = (self._partial + data).split(b"\n")
        self._partial = lines.pop()
        for line in lines:
            if line.strip():
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "end": None,
                "desc": props.get("spark.job.description") or "",
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = []
            for rdd in si.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    scopes.append(json.loads(scope).get("name", ""))
            self.stages[si["Stage ID"]] = {
                "submit": si.get("Submission Time"),
                "end": si.get("Completion Time"),
                "tasks": si["Number of Tasks"],
                "scopes": scopes,
            }
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "launch": info["Launch Time"],
                "finish": info["Finish Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0)
                + shuffle_read.get("Total Records Read", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[dict]:
        return [j for j in self.jobs.values()
                if j["end"] is not None and t0_ms <= j["start"] <= t1_ms]

    def summary(self, jobs: list[dict]) -> dict[str, float]:
        """Totals over ``jobs``: counts, busy/wait/GC time, bytes, wall."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "empty_tasks", "task_run_ms",
             "sched_delay_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
             "job_wall_ms"), 0.0)
        out["jobs"] = float(len(jobs))
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None:  # skipped stage: its output was reused
                    continue
                out["stages"] += 1
                for t in self.tasks.get(sid, []):
                    out["tasks"] += 1
                    out["empty_tasks"] += t["records_in"] == 0
                    out["task_run_ms"] += t["run_ms"]
                    # wait: from stage submission until a core took the task
                    out["sched_delay_ms"] += max(0, t["launch"] - st["submit"])
                    out["gc_ms"] += t["gc_ms"]
                    out["shuffle_bytes"] += t["shuffle_write"]
                    out["spill_bytes"] += t["spill"]
        out["job_wall_ms"] = float(_union_ms([(j["start"], j["end"]) for j in jobs]))
        return out

    def stage_ms(self, jobs: list[dict], scope_name: str) -> float:
        """Wall time of the stages of ``jobs`` whose RDD scopes include
        ``scope_name`` (e.g. the ``applyInPandas`` kernel stage)."""
        spans = []
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st and any(scope_name in s for s in st["scopes"]):
                    spans.append((st["submit"], st["end"]))
        return float(_union_ms(spans))


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
