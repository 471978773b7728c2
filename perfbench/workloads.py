"""The workloads. Each takes a :class:`Ctx`, sets up (timed into
``setup_s``), measures for ``ctx.seconds``, checks the program's outputs
and returns a :class:`Result`. BENCHMARK.json gates ``headline_queries``
and ``stream_trickle``; ``stream_backfill`` runs by name (and at local[1]
as the traced trickle run's single-core baseline) but is not gated,
to keep a full set of gated runs within an hour on a 4-core machine.

- ``headline_queries``: one client runs the 12 ``bench.HEADLINE`` catalog
  queries at sf0.02 in a closed loop, in rounds (at least one), through
  the ``noop`` sink. A warm-up round (set-up) fills the engine's
  substrate caches.
- ``stream_backfill``: a restart after an outage — a multi-week backlog
  of orders, items and products lands as CSV into empty tables, then one
  ``MedallionPipeline.run_cycle()`` drains it. Repeated on fresh tables
  until the time is up.
- ``stream_trickle``: live traffic at the rate the pipeline sustains — a
  history is preloaded through one cycle, then ``N_WAVES`` week-sized
  wave(s) land one at a time, each as soon as the previous cycle has
  ended, and one ``run_cycle()`` takes each wave to gold.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from . import checks, gen

# the headline's star schema. A run's cost is mostly fixed: on a 4-core
# machine the cold warm-up round takes 31-44 s and a timed round 6-10 s
# from sf0.01 to sf0.1, so a run at sf0.02 with one timed round stays
# under a minute
HEADLINE_SF = 0.02
# stream_backfill's backlog
SF = 0.1
BACKLOG_WEEKS = 8
WARM_WEEKS = 1
# the trickle's feed: about 130 orders a week, small enough that one
# wave's cycle costs mostly the per-cycle fixed work
TRICKLE_SF = 0.03
HISTORY_WEEKS = 4
# measured waves per run, a cycle each: 10-14 s a cycle on a 4-core
# machine, so a second wave would not fit the time a run may take
N_WAVES = 1
LATE_SHARE = 0.05
LATE_PRODUCT_SHARE = 0.05
POISON_PER_WAVE = 4


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    session_s: float


@dataclass
class Result:
    setup_s: float
    latencies: list[float]  # one per operation: query / drain / wave
    ops: float  # throughput numerator: queries or landed rows
    busy_s: float  # throughput denominator
    attempted: int
    failed: int
    rss_mb: float  # peak RSS of this process plus the JVM, after measuring
    measure: dict | None = None  # the tracer's "measure" span
    details: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer metrics it owns


def _pipeline(ctx: Ctx, root: str):
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (  # noqa: E501
        MedallionPipeline,
    )

    pipe = MedallionPipeline(ctx.spark, root)
    if ctx.tracer.enabled:
        ctx.tracer.wrap_pipeline(pipe)
    return pipe


def _land(pipe, wave: gen.Wave, name: str) -> None:
    """Write a wave's three files beside landing/, then rename them in,
    products first (a reader never sees a half-written file)."""
    for table, text in (("products", wave.products), ("orders", wave.orders),
                        ("order_items", wave.items)):
        tmp_dir = os.path.join(pipe.root, "_incoming", table)
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = os.path.join(tmp_dir, name)
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, os.path.join(pipe.landing(table), name))


# ---------------------------------------------------------------------------
# headline_queries
# ---------------------------------------------------------------------------

def headline_queries(ctx: Ctx) -> Result:
    import bench
    import duckdb

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans import (  # noqa: E501
        queries as q,
    )

    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    data = gen.write_star(gen.star_tables(ctx.seed, HEADLINE_SF),
                          os.path.join(ctx.work, "star"))
    catalog = q.catalog()
    names = list(bench.HEADLINE)

    def run(name: str) -> tuple[float, float]:
        with tracer.span("query", label=f"query:{name}", query=name):
            t = time.perf_counter()
            with tracer.span("plans.build", query=name):
                df = catalog[name](spark, data)
            t1 = time.perf_counter()
            with tracer.span("plans.exec", query=name):
                df.write.format("noop").mode("overwrite").save()
            return t1 - t, time.perf_counter() - t1

    # warm-up round (set-up): JIT, codegen and the cache slots fill; each
    # query's result comes back to Python for the oracle check below
    results, errors = {}, []
    for name in names:
        try:
            with tracer.span("query", label=f"query:{name}", query=name):
                results[name] = catalog[name](spark, data).toPandas()
        except Exception:  # reported as a wrong query below
            errors.append(f"{name}: {traceback.format_exc(limit=2)}")
    setup_s = ctx.session_s + time.perf_counter() - t0

    lat: dict[str, list[float]] = {n: [] for n in names}
    build: dict[str, list[float]] = {n: [] for n in names}
    rounds = 0
    with tracer.span("measure") as measure:
        start = time.perf_counter()
        while rounds == 0 or time.perf_counter() - start < ctx.seconds:
            for name in names:
                try:
                    b, e = run(name)
                except Exception:  # a failed query counts; the loop goes on
                    errors.append(f"{name}: {traceback.format_exc(limit=2)}")
                    continue
                lat[name].append(b + e)
                build[name].append(b)
            rounds += 1
    rss = peak_rss_mb(spark)

    # correctness, outside the timed loop: the warm-up results against
    # the DuckDB oracles over the same parquet files
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(ctx.work, 'duckdb')}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = q.oracles(data)  # the events layout of the generated files
    wrong: dict[str, str] = {}
    for name in names:
        if name not in results or name not in oracles:
            wrong[name] = "no result" if name not in results else "no oracle"
            continue
        reason = checks.compare_frames(results[name], con.execute(oracles[name]).df())
        if reason:
            wrong[name] = reason
    con.close()

    samples = [v for n in names for v in lat[n]]
    executed = len(samples)
    failed = len(errors) + sum(len(lat[n]) for n in wrong)
    medians = {n: statistics.median(v) for n, v in lat.items() if v}
    return Result(
        setup_s=setup_s,
        latencies=samples,
        ops=executed,
        busy_s=sum(samples),
        attempted=executed + len(errors),
        failed=failed,
        rss_mb=rss,
        measure=measure,
        details={
            "rounds": rounds,
            "headline_total_s": sum(medians.values()),
            "query_median_s": medians,
            "query_latencies_s": lat,
            "query_build_median_s": {n: statistics.median(v) for n, v in build.items() if v},
            "wrong": wrong,
            "errors": errors[:5],
        },
    )


# ---------------------------------------------------------------------------
# stream_backfill
# ---------------------------------------------------------------------------

def stream_backfill(ctx: Ctx) -> Result:
    t0 = time.perf_counter()
    tables = gen.star_tables(ctx.seed, SF)
    week = gen.week_orders(SF)
    plan = gen.plan_stream(ctx.seed, SF, 0, week, BACKLOG_WEEKS, tables=tables)
    expected = gen.expected_gold(plan)
    rows = sum(w.n_rows for w in plan.waves)
    # warm-up: a short backlog from another stretch of the calendar
    warm = gen.plan_stream(ctx.seed + 7919, SF, 0, week, WARM_WEEKS, tables=tables)

    def land_all(p, root):
        pipe = _pipeline(ctx, root)
        for k, w in enumerate(p.waves):
            _land(pipe, w, f"backlog_w{k:03d}.csv")
        return pipe

    land_all(warm, os.path.join(ctx.work, "warm")).run_cycle()
    shutil.rmtree(os.path.join(ctx.work, "warm"))
    pipe = land_all(plan, os.path.join(ctx.work, "backfill0"))
    setup_s = ctx.session_s + time.perf_counter() - t0

    drains: list[float] = []
    failed = 0
    problems: list[str] = []
    with ctx.tracer.span("measure") as measure:
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            pipe.run_cycle()
            drains.append(time.perf_counter() - t)
            bad = checks.gold_mismatch(pipe.root, expected)
            q_rows, l_rows = checks.quarantine_rows(pipe.root), checks.late_rows(pipe.root)
            if bad or q_rows or l_rows:
                failed += 1
                problems.append(f"drain {len(drains)}: gold {bad}, "
                                f"quarantine {q_rows}, late {l_rows}")
            if time.perf_counter() - start >= ctx.seconds:
                break
            shutil.rmtree(pipe.root)
            pipe = land_all(plan, os.path.join(ctx.work, f"backfill{len(drains)}"))
    rss = peak_rss_mb(ctx.spark)
    return Result(
        setup_s=setup_s,
        latencies=drains,
        ops=rows * len(drains),
        busy_s=sum(drains),
        attempted=len(drains),
        failed=failed,
        rss_mb=rss,
        measure=measure,
        details={"backlog_rows": rows, "backlog_weeks": BACKLOG_WEEKS,
                 "drains": len(drains), "problems": problems},
        layer=_state_metrics(pipe.root),
    )


def _state_metrics(root: str) -> dict:
    return {
        "state.staging_rows": checks.staging_rows(root),
        "state.silver_partitions": checks.silver_partitions(root),
        "state.quarantine_rows": checks.quarantine_rows(root),
        "state.late_rows": checks.late_rows(root),
    }


# ---------------------------------------------------------------------------
# stream_trickle
# ---------------------------------------------------------------------------

def stream_trickle(ctx: Ctx) -> Result:
    t0 = time.perf_counter()
    tables = gen.star_tables(ctx.seed, TRICKLE_SF)
    # the seed picks the calendar window, and with it the split date
    history_days = HISTORY_WEEKS * 7
    # the history's cycle is the warm-up (set-up); every wave is measured
    plan = gen.plan_stream(
        ctx.seed, TRICKLE_SF, history_days, gen.week_orders(TRICKLE_SF), N_WAVES,
        LATE_SHARE, LATE_PRODUCT_SHARE, POISON_PER_WAVE, tables=tables)
    expected = gen.expected_gold(plan)
    names = {-1: "history.csv"} | {k: f"w{k:03d}.csv" for k in range(N_WAVES)}
    pipe = _pipeline(ctx, os.path.join(ctx.work, "trickle"))
    commits, ends = [], []

    def land_and_cycle(k: int) -> float:
        landed = time.time()
        _land(pipe, plan.history if k < 0 else plan.waves[k], names[k])
        pipe.run_cycle()
        ends.append(time.time())
        commits.append(checks.committed_batches(pipe.root))
        return landed

    land_and_cycle(-1)
    setup_s = ctx.session_s + time.perf_counter() - t0

    # paced by the pipeline: each wave lands when the previous cycle ends
    measured = range(N_WAVES)
    landed: dict[int, float] = {}
    with ctx.tracer.span("measure") as measure:
        for k in measured:
            landed[k] = land_and_cycle(k)
    rss = peak_rss_mb(ctx.spark)

    # freshness: landed -> end of the cycle that ingested all three of the
    # wave's files. Rows waiting for a product that lands with the next
    # wave are released with that wave, so they count there.
    cycle_of = checks.file_cycles(pipe.root, commits)
    fresh: dict[int, float] = {}
    problems: list[str] = []
    for k in measured:
        need = [(t, names[k]) for t in checks.TABLES]
        if any(x not in cycle_of for x in need):
            problems.append(f"wave {k}: a file was never ingested")
            continue
        fresh[k] = ends[max(cycle_of[x] for x in need)] - landed[k]
    failed = N_WAVES - len(fresh)
    bad = checks.gold_mismatch(pipe.root, expected)
    if bad:
        failed = N_WAVES  # gold is shared by every wave
        problems.append(f"gold: {bad}")
    state = _state_metrics(pipe.root)
    if state["state.quarantine_rows"] != plan.poison_rows:
        failed += 1
        problems.append(f"quarantine {state['state.quarantine_rows']} != "
                        f"{plan.poison_rows} poison rows")
    want_late = checks.simulate_late(plan, names, cycle_of, len(commits))
    if state["state.late_rows"] != want_late:
        failed += 1
        problems.append(f"late audit {state['state.late_rows']} != {want_late}")

    rows = sum(plan.waves[k].n_rows for k in measured)
    return Result(
        setup_s=setup_s,
        latencies=list(fresh.values()),
        ops=rows,
        busy_s=sum(fresh.values()),
        attempted=N_WAVES,
        failed=min(failed, N_WAVES),
        rss_mb=rss,
        measure=measure,
        details={"waves": N_WAVES, "freshness_s": fresh,
                 "history_days": history_days, "rows": rows,
                 "poison_rows": plan.poison_rows, "late_injected": len(plan.late_ids),
                 "late_expected": want_late, "problems": problems},
        layer=state,
    )


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the Spark JVM, in MiB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


WORKLOADS = {
    "headline_queries": headline_queries,
    "stream_backfill": stream_backfill,
    "stream_trickle": stream_trickle,
}
