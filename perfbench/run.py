"""Benchmark command for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds its inputs from ``--seed``
under ``.perfbench/`` in the checkout, runs one workload (see
``perfbench/workloads.py``) on ``local[N]`` with N = the CPUs this process
may use, checks the program's outputs, and prints two lines:

- a JSON detail line: every metric's sample count and per-workload facts;
- as the LAST line, the result:
  ``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around the engine's layers and reports the per-layer
metrics instead, writing spans, jobs and per-operator rows to
``.perfbench/out/trace-<workload>-seed<n>.json``. Exit status is 0 only
when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"

# the traced trickle run skips its single-core baseline when it has
# already run this long (a run must end within 180 s)
BASELINE_AFTER_S = 110

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MiB",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    import bench

    names = {"session.build_s": "s", "plans.build_s": "s", "plans.exec_s": "s"}
    for q in bench.HEADLINE:
        names[f"plans.build_s.{q}"] = "s"
        names[f"plans.exec_s.{q}"] = "s"
    names |= {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.stages_ge_100_tasks": "count", "spark.executor_run_s": "s",
        "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.output_bytes": "bytes", "spark.spill_bytes": "bytes",
    }
    for q in bench.HEADLINE:
        names[f"spark.jobs.{q}"] = "count"
    for p in ("ingest", "promote", "gold"):
        names[f"spark.jobs.{p}"] = "count"
        names[f"spark.executor_run_s.{p}"] = "s"
    names |= {
        "cache.calls": "count", "cache.scalar_misses": "count", "cache.mem_bytes": "bytes",
        "pipeline.cycles": "count", "pipeline.cycle_s": "s", "pipeline.ingest_s": "s",
        "pipeline.promote_s": "s", "pipeline.gold_s": "s",
        "trigger.count": "count", "trigger.latestOffset_ms": "ms",
        "trigger.queryPlanning_ms": "ms", "trigger.addBatch_ms": "ms",
        "trigger.walCommit_ms": "ms", "trigger.commitOffsets_ms": "ms",
        "trigger.startup_s": "s",
        "upsert.merge_calls": "count", "upsert.merge_s": "s",
        "upsert.check_unique_s": "s", "upsert.write_amp": "ratio",
        "state.staging_rows": "count", "state.silver_partitions": "count",
        "state.quarantine_rows": "count", "state.late_rows": "count",
        "baseline.local1_rows_per_s": "1/s", "baseline.local1_drain_s": "s",
    }
    return names


def start_session(work: str, cores: int, traced: bool):
    from importlib import import_module

    build_session = import_module(f"{PKG}.session").build_session
    from perfbench.trace import TRACE_CONF

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # temp files in the work directory; no hsperfdata file in the OS
        # temp dir. The whole heap is committed and touched at start, so
        # peak RSS does not depend on when G1 happened to grow or touch it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-Xms2g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the bench.py session: small splits restore scan parallelism on
        # single-file tables of a few MB
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.sql.files.openCostInBytes": "262144",
    }
    if traced:
        conf |= TRACE_CONF
    t = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(res) -> tuple[dict, dict]:
    lat = res.latencies
    metrics = {
        "setup_s": res.setup_s,
        "latency_p50_s": statistics.median(lat),
        "throughput_per_s": res.ops / res.busy_s,
        "peak_rss_mb": res.rss_mb,
    }
    samples = {"setup_s": 1, "latency_p50_s": len(lat),
               "throughput_per_s": len(lat), "peak_rss_mb": 1}
    return metrics, samples


def per_layer(ctx, res, tracer, workload: str, out_dir: str) -> tuple[dict, dict]:
    import bench

    spans = tracer.spans
    lo, hi = res.measure["start"], res.measure["end"]

    def durations(name, **match):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and lo <= s["start"] <= hi
                and all(s.get(k) == v for k, v in match.items())]

    def med(values):
        return statistics.median(values) if values else 0.0

    extra = {"session.build_s": ctx.session_s}
    for q in bench.HEADLINE:
        extra[f"plans.build_s.{q}"] = med(durations("plans.build", query=q))
        extra[f"plans.exec_s.{q}"] = med(durations("plans.exec", query=q))
    extra["plans.build_s"] = sum(extra[f"plans.build_s.{q}"] for q in bench.HEADLINE)
    extra["plans.exec_s"] = sum(extra[f"plans.exec_s.{q}"] for q in bench.HEADLINE)
    cycles = durations("pipeline.cycle")
    extra["pipeline.cycles"] = len(cycles)
    extra["pipeline.cycle_s"] = med(cycles)
    for p in ("ingest", "promote", "gold"):
        extra[f"pipeline.{p}_s"] = med(durations(f"pipeline.{p}"))
    extra |= res.layer
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-seed{ctx.seed}.json")
    m, jobs = tracer.report(path, res.measure, extra)

    # jobs per query execution (median), attributed through the spans
    by_span: dict[int, int] = {}
    for j in jobs:
        if j["span"] is not None:
            by_span[j["span"]] = by_span.get(j["span"], 0) + 1
    for q in bench.HEADLINE:
        counts = []
        for s in spans:
            if s["name"] == "query" and s.get("query") == q and lo <= s["start"] <= hi:
                inside = [c["id"] for c in spans if c["id"] == s["id"] or c["parent"] == s["id"]]
                counts.append(sum(by_span.get(i, 0) for i in inside))
        m[f"spark.jobs.{q}"] = med(counts)

    names = per_layer_names()
    for k in names:
        m.setdefault(k, 0)
    metrics = {k: m[k] for k in names}
    samples = {k: 1 for k in names}
    samples["pipeline.cycle_s"] = len(cycles)
    return metrics, samples


def local1_baseline(spark, work: str, seed: int):
    """stream_backfill once at local[1]: the single-core baseline for the
    stream-processing numbers, reported by the traced stream_trickle run
    and never gated. It stops ``spark`` and runs in a new local[1]
    context on the same, already warm JVM, so it costs one drain rather
    than a second JVM start; returns the metrics and that session."""
    from perfbench import trace, workloads

    spark.stop()
    spark1, _ = start_session(work, 1, False)
    ctx = workloads.Ctx(spark1, trace.NullTracer(), seed, 0, work, 0.0)
    res = workloads.stream_backfill(ctx)
    if res.failed:
        raise RuntimeError(f"local[1] baseline was wrong: {res.details['problems']}")
    return {"baseline.local1_rows_per_s": res.ops / res.busy_s,
            "baseline.local1_drain_s": statistics.median(res.latencies)}, spark1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cores = len(os.sched_getaffinity(0))  # local[N]: the CPUs this process may use
    started = time.monotonic()

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the headline query list)
        from importlib import import_module

        import_module(f"{PKG}.streaming.pipeline")
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        spark, session_s = start_session(work, cores, bool(args.trace))
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        if args.trace:
            tracer.install()
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, work, session_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.uninstall()
            metrics, samples = per_layer(ctx, res, tracer, args.workload,
                                         os.path.join(base, "out"))
            units = per_layer_names()
            e2e, _ = end_to_end(res)
            res.details["traced_end_to_end"] = e2e
            if args.workload == "stream_trickle" and cores > 1:
                if time.monotonic() - started < BASELINE_AFTER_S:
                    base_m, spark = local1_baseline(spark, work, args.seed)
                    metrics |= base_m
                else:
                    print("perfbench: local[1] baseline skipped: out of time",
                          file=sys.stderr)
        else:
            metrics, samples = end_to_end(res)
            units = END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "samples": samples,
                      "details": res.details}, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
