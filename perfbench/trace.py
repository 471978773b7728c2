"""Traced mode: spans around the engine's layer entry points, job labels,
and counters read back from Spark's own status stores.

Everything here lives in the benchmark: the engine is wrapped from the
outside (module attributes and instance methods are swapped for the
length of the run and restored afterwards), so tracing never changes a
file of the program. Spans are kept in memory and written out once, when
the run ends. Untraced runs use :class:`NullTracer`, whose spans cost a
context-manager entry and nothing else.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from .checks import parquet_rows

PKG = "lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"

# status-store retention for a traced session: the defaults (1000 jobs /
# stages) drop the oldest entries of a long run before they are read
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
PHASES = ("ingest", "promote", "gold")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event whole (its JSON), plus each
    query's start time, for the per-trigger breakdown."""

    def __init__(self):
        self.started: dict[str, str] = {}
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.runId)] = event.timestamp

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _iso_ms(ts: str) -> float:
    """Spark's progress timestamps ('2026-01-01T00:00:00.123Z') → epoch ms."""
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """Spans plus the wrappers that produce them. ``install`` swaps the
    wrappers in; ``uninstall`` restores every original."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.cache = {"calls": 0, "scalar_misses": 0}
        self.listener: ProgressListener | None = None

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None, **attrs):
        """Record a span; with ``label``, jobs submitted from this thread
        inside it carry that job group and description (labelled spans
        do not nest: queries and pipeline phases)."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if label:
            self.sc.setJobGroup(label, label)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if label:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, name: str, fn, label: str | None = None):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name, label=label):
                return fn(*a, **kw)

        return inner

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # -- layer wrappers --------------------------------------------------------
    def install(self) -> None:
        from importlib import import_module

        upsert = import_module(f"{PKG}.operators.upsert")
        cache = import_module(f"{PKG}.functions.cache")
        tracer = self

        merge, check = upsert.merge, upsert.check_source_unique

        @functools.wraps(merge)
        def traced_merge(spark, target_path, source, keys, *a, **kw):
            silver = target_path.rstrip("/").endswith("silver/enriched")
            before = parquet_rows(target_path) if silver else 0
            with tracer.span("upsert.merge", target=target_path.rsplit("/", 2)[-2:]) as rec:
                out = merge(spark, target_path, source, keys, *a, **kw)
            if silver:
                rec["silver_inserted"] = parquet_rows(target_path) - before
            return out

        self._patch(upsert, "merge", traced_merge)
        self._patch(upsert, "check_source_unique",
                    self._wrap("upsert.check_unique", check))

        orig_cache, orig_scalar = cache.bounded_cache, cache.bounded_scalar

        @functools.wraps(orig_cache)
        def counted_cache(slot, df):
            tracer.cache["calls"] += 1
            return orig_cache(slot, df)

        @functools.wraps(orig_scalar)
        def counted_scalar(slot, df, compute):
            tracer.cache["calls"] += 1

            def miss():
                tracer.cache["scalar_misses"] += 1
                return compute()

            return orig_scalar(slot, df, miss)

        # modules that imported the functions by name hold their own
        # reference: swap those too
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG)]:
            for attr, orig, new in (("bounded_cache", orig_cache, counted_cache),
                                    ("bounded_scalar", orig_scalar, counted_scalar)):
                if getattr(mod, attr, None) is orig:
                    self._patch(mod, attr, new)

        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def wrap_pipeline(self, pipe) -> None:
        """Span + job label around run_cycle and its three phases (the
        instance attributes shadow the class methods for this object)."""
        for attr, name in (("ingest_available", "ingest"),
                           ("promote_complete_groups", "promote"),
                           ("refresh_gold", "gold")):
            setattr(pipe, attr, self._wrap(f"pipeline.{name}", getattr(pipe, attr),
                                           label=f"pipeline:{name}"))
        pipe.run_cycle = self._wrap("pipeline.cycle", pipe.run_cycle)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)

    # -- status stores -----------------------------------------------------------
    def _jobs(self) -> list[dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sids = j.stageIds()
            out.append({
                "id": j.jobId(),
                "group": j.jobGroup().getOrElse(None) if j.jobGroup().isDefined() else None,
                "submitted": _opt_ms(j.submissionTime()),
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        stage_ids = sorted({s for j in out for s in j["stages"]})
        stages = {}
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            if attempts.size() == 0:  # skipped stage: never ran
                continue
            s = attempts.apply(0)
            if s.status().toString() == "SKIPPED":
                continue
            stages[sid] = {
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "input": s.inputBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "output": s.outputBytes(),
                "output_records": s.outputRecords(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        for j in out:
            j["stage_data"] = [stages[s] for s in j["stages"] if s in stages]
        return out

    def _operators(self, start: float, end: float) -> dict[str, int]:
        """Output rows per physical operator over the SQL executions that
        started inside ``[start, end]`` (epoch seconds)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        rows: dict[str, int] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            if not (start * 1000 <= e.submissionTime() <= end * 1000):
                continue
            values = store.executionMetrics(e.executionId())
            nodes = store.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                ms = n.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        try:
                            rows[n.name()] = rows.get(n.name(), 0) + int(
                                str(v.get()).replace(",", ""))
                        except ValueError:
                            pass
        return rows

    def report(self, out_path: str, measure_span: dict, extra: dict) -> tuple[dict, list]:
        """Per-layer metrics for the measured interval, and every job with
        the span it was attributed to; spans, jobs and per-operator rows
        also go to ``out_path`` as JSON."""
        jobs = self._jobs()
        spans = self.spans
        lo, hi = measure_span["start"] * 1000, measure_span["end"] * 1000

        # innermost span (latest start) containing each job's submission
        ordered = sorted(spans, key=lambda s: s["start"])
        for j in jobs:
            j["span"] = None
            if j["submitted"] is None:
                continue
            for s in ordered:
                if s["start"] * 1000 <= j["submitted"] <= (s["end"] or 0) * 1000:
                    j["span"] = s["id"]
        in_measure = [j for j in jobs if j["submitted"] and lo <= j["submitted"] <= hi]

        def ancestors(sid):
            while sid is not None:
                yield spans[sid]
                sid = spans[sid]["parent"]

        m: dict[str, float] = {}
        stages = [s for j in in_measure for s in j["stage_data"]]
        m["spark.jobs"] = len(in_measure)
        m["spark.stages"] = len(stages)
        m["spark.tasks"] = sum(s["tasks"] for s in stages)
        m["spark.stages_ge_100_tasks"] = sum(1 for s in stages if s["tasks"] >= 100)
        m["spark.executor_run_s"] = sum(s["run_ms"] for s in stages) / 1000.0
        m["spark.input_bytes"] = sum(s["input"] for s in stages)
        m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages)
        m["spark.output_bytes"] = sum(s["output"] for s in stages)
        m["spark.spill_bytes"] = sum(s["spill"] for s in stages)

        # per pipeline phase: jobs and executor time per cycle (median)
        for phase in PHASES:
            per_jobs, per_run = [], []
            for s in spans:
                if s["name"] != f"pipeline.{phase}" or not (lo <= s["start"] * 1000 <= hi):
                    continue
                js = [j for j in jobs if j["span"] is not None
                      and any(a["id"] == s["id"] for a in ancestors(j["span"]))]
                per_jobs.append(len(js))
                per_run.append(sum(st["run_ms"] for j in js for st in j["stage_data"]) / 1000.0)
            m[f"spark.jobs.{phase}"] = statistics.median(per_jobs) if per_jobs else 0
            m[f"spark.executor_run_s.{phase}"] = statistics.median(per_run) if per_run else 0

        # write amplification of the silver MERGE: rows written by its jobs
        # over rows it added to the table
        written = inserted = 0
        merges = [s for s in spans if s["name"] == "upsert.merge"
                  and lo <= s["start"] * 1000 <= hi]
        for s in merges:
            if "silver_inserted" not in s:
                continue
            inserted += s["silver_inserted"]
            written += sum(
                st["output_records"] for j in jobs if j["span"] is not None
                and any(a["id"] == s["id"] for a in ancestors(j["span"]))
                for st in j["stage_data"]
            )
        m["upsert.merge_calls"] = len(merges)
        m["upsert.merge_s"] = sum(s["end"] - s["start"] for s in merges)
        m["upsert.check_unique_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "upsert.check_unique" and lo <= s["start"] * 1000 <= hi)
        m["upsert.write_amp"] = written / inserted if inserted else 0.0

        # triggers: per-phase durations, median per trigger; start-up is
        # the time from a query's start to its first trigger
        prog = [p for p in (self.listener.progress if self.listener else [])
                if lo <= _iso_ms(p["timestamp"]) <= hi]
        m["trigger.count"] = len(prog)
        for key in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                    "commitOffsets"):
            vals = [p["durationMs"].get(key, 0) for p in prog]
            m[f"trigger.{key}_ms"] = statistics.median(vals) if vals else 0
        first: dict[str, float] = {}
        for p in prog:
            t = _iso_ms(p["timestamp"])
            first[p["runId"]] = min(first.get(p["runId"], t), t)
        starts = [
            (first[r] - _iso_ms(self.listener.started[r])) / 1000.0
            for r in first if r in self.listener.started
        ]
        m["trigger.startup_s"] = statistics.median(starts) if starts else 0
        # over the whole run: the catalog memoizes built frames, so the
        # cache calls happen while the warm-up round builds each query
        m["cache.calls"] = self.cache["calls"]
        m["cache.scalar_misses"] = self.cache["scalar_misses"]
        m["cache.mem_bytes"] = self._cache_bytes()
        m.update(extra)

        operators = self._operators(measure_span["start"], measure_span["end"])
        with open(out_path, "w") as f:
            json.dump({"metrics": m, "spans": spans, "jobs": [
                {k: v for k, v in j.items() if k != "stage_data"} | {
                    "tasks": sum(s["tasks"] for s in j["stage_data"]),
                    "run_ms": sum(s["run_ms"] for s in j["stage_data"])}
                for j in jobs], "operator_rows": operators,
                "progress": self.listener.progress if self.listener else []},
                f, indent=1, default=str)
        return m, jobs

    def _cache_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
