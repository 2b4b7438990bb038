"""``dashboard_mix``: one closed-loop client issuing a seeded Q1-Q9
panel mix against a date-partitioned conditions store.

Loads ``operators``/``plans``; bypasses ``ingest``/``streaming``.  One
op is one panel: building its DataFrame (``build``) and fetching the
result as Arrow (``exec``).
"""

from __future__ import annotations

import shutil
import statistics
import time

import numpy as np

import gen
import oracle
from probes import JobCounter, jvm_cpu_s, jvm_gc_s
from stats import percentile, tail_percentile

N_EVENTS = 150_000  # x3 conditions rows (value, event_type, props_k)
N_USERS = 2_000
SETUP_REPS = 3
MIN_PANELS = 2 * len(gen.DECK)
TAIL_P = tail_percentile(MIN_PANELS)
SAMPLE_SHARE = 0.25
WARM_CYCLES = 2
TRACE_PANELS = {True: 2 * len(gen.DECK), False: len(gen.DECK)}


def build(store, p: gen.Panel):
    from eventhub_to_timescale_spark.operators import asap, timeseries, timeweight

    s, a, e = p.subject, p.start, p.end
    if p.kind == "q1":
        return timeseries.aggregated_by_interval(store, s, "value", a, e, oracle.q1_interval_seconds(a, e))
    if p.kind == "q2":
        return timeseries.aggregated_data(store, s, "value", a, e, 200)
    if p.kind == "q3":
        return timeseries.aggregated_by_day(store, s, "value", a, e)
    if p.kind == "q4":
        return timeseries.most_frequent_value(store, s, "event_type", a, e)
    if p.kind == "q5":
        return timeweight.time_weighted_average(store, s, "value", a, e, "locf", 360)
    if p.kind == "q6":
        return asap.moving_average_smooth(store, s, "value", a, e, resolution=360, window_k=2)
    if p.kind == "q7":
        return timeseries.unique_subjects(store, "event_type", a, e)
    if p.kind == "q8":
        return timeseries.changed_rows(store, None, "event_type", a, e)
    if p.kind == "q9":
        return timeseries.state_intervals(store, None, "event_type", a, e, close_at=e)
    raise ValueError(p.kind)


def write_store(b, events_dir: str, path: str):
    """The engine's set-up for serving panels: pivot the events into
    conditions rows, write the date-partitioned store, open it."""
    from eventhub_to_timescale_spark.sinks.conditions import write_conditions_parquet
    from eventhub_to_timescale_spark.sources.testdata import events_as_conditions

    write_conditions_parquet(events_as_conditions(b.spark, events_dir), path)
    return b.spark.read.parquet(path)


def _setup(b, reps: int):
    events_dir = gen.write_events(gen.make_events(b.seed, N_EVENTS, N_USERS), b.path("panel-events"))
    times, path = [], None
    for k in range(reps):
        if path:
            shutil.rmtree(path)
        path = b.path(f"store{k}")
        t0 = time.perf_counter()
        store = write_store(b, events_dir, path)
        times.append(time.perf_counter() - t0)
    return store, path, times


def warm_up(store, seed: int, cycles: int) -> None:
    """Untimed deck cycles (other panels than the timed ones): panel
    latency keeps falling over the first few dozen panels of a process
    while the JVM compiles the planner and operator paths."""
    for p in gen.panel_deck(seed + 1, N_USERS, cycles * len(gen.DECK)):
        build(store, p).toArrow()


def _rows(table) -> list[tuple]:
    return [tuple(r.values()) for r in table.to_pylist()]


def check(store_path: str, results: list[tuple[gen.Panel, list[tuple]]]) -> int:
    """Panels whose rows differ from DuckDB over the stored parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW store AS SELECT * FROM read_parquet('{store_path}/**/*.parquet', hive_partitioning = false)"
        )
        return sum(
            not oracle.rows_match(got, con.execute(oracle.panel_sql(con, p.kind, p.subject, p.start, p.end)).fetchall())
            for p, got in results
        )
    finally:
        con.close()


def timed(b) -> dict:
    store, store_path, setup_times = _setup(b, SETUP_REPS)
    warm_up(store, b.seed, WARM_CYCLES)
    deck = gen.panel_deck(b.seed, N_USERS, 5000)
    sampled = np.random.default_rng(b.seed + 2).random(len(deck)) < SAMPLE_SHARE

    latencies, kept, failed = [], [], 0
    t_start = time.perf_counter()
    i = 0
    # whole deck cycles only, so every run times the same mix of kinds
    while i < len(deck) and (
        time.perf_counter() - t_start < b.seconds or len(latencies) < MIN_PANELS or i % len(gen.DECK)
    ):
        p = deck[i]
        t0 = time.perf_counter()
        try:
            table = build(store, p).toArrow()
        except Exception as e:  # a failed panel is a failed op, not a crash
            failed += 1
            table = None
            print(f"# panel {i} {p.kind} failed: {e!r}"[:300])
        latencies.append(time.perf_counter() - t0)
        if table is not None and sampled[i]:
            kept.append((p, table))
        i += 1
    elapsed = time.perf_counter() - t_start

    failed += check(store_path, [(p, _rows(table)) for p, table in kept])
    return {
        "attempted": len(latencies),
        "failed": failed,
        "metrics": {
            "setup_s": (statistics.median(setup_times), "s"),
            "work_per_s": (len(latencies) / elapsed, "1/s"),
            "op_p50_s": (percentile(latencies, 50.0), "s"),
            "op_tail_s": (percentile(latencies, TAIL_P), "s"),
        },
        "notes": [f"dashboard_mix: {len(latencies)} panels in {elapsed:.2f}s, {len(kept)} checked, tail=p{TAIL_P:.1f}"],
    }


def traced(b, tracer, focus: bool) -> dict:
    """Per-layer numbers for panels: build vs exec time per kind, jobs
    launched while building (Q4's phase-1 count), jobs/stages/tasks per
    panel, and the tracing overhead against an untraced pass over the
    same panels.  ``focus`` sizes the section for dashboard_mix."""
    store, store_path, _ = _setup(b, 1)
    warm_up(store, b.seed, 1)
    panels = gen.panel_deck(b.seed, N_USERS, TRACE_PANELS[focus])

    t0 = time.perf_counter()
    for p in panels:
        build(store, p).toArrow()
    untraced_s = time.perf_counter() - t0

    jobs = JobCounter(b.spark)
    gc0, cpu0 = jvm_gc_s(b.spark), jvm_cpu_s(b.spark)
    build_s: dict[str, list[float]] = {}
    exec_s: dict[str, list[float]] = {}
    prequery = n_jobs = n_stages = n_tasks = 0
    results = []
    with tracer.span("operators.panels", "panels") as total:
        for i, p in enumerate(panels):
            op = f"panel-{i}"
            with tracer.span(f"operators.{p.kind}", op):
                jobs.group(f"{op}-build")
                # building a panel is planning: adaptive sizing and any
                # pre-query jobs (Q4's phase-1 count) run here
                with tracer.span(f"plans.{p.kind}.build", op) as s_build:
                    df = build(store, p)
                jobs.group(f"{op}-exec")
                with tracer.span(f"operators.{p.kind}.exec", op) as s_exec:
                    table = df.toArrow()
            build_s.setdefault(p.kind, []).append(s_build.end - s_build.start)
            exec_s.setdefault(p.kind, []).append(s_exec.end - s_exec.start)
            results.append((p, table))
            for phase in ("build", "exec"):
                j, st, t = jobs.count(f"{op}-{phase}")
                n_jobs, n_stages, n_tasks = n_jobs + j, n_stages + st, n_tasks + t
                if phase == "build":
                    prequery += j
    gc1, cpu1 = jvm_gc_s(b.spark), jvm_cpu_s(b.spark)

    metrics = {}
    for kind in gen.SINGLE_KINDS + gen.ALL_KINDS:
        metrics[f"operators.{kind}_build_s"] = (statistics.median(build_s[kind]), "s")
        metrics[f"operators.{kind}_exec_s"] = (statistics.median(exec_s[kind]), "s")
    metrics["plans.prequery_jobs"] = (prequery / len(panels), "jobs/op")
    metrics["trace.panel_overhead"] = ((total.end - total.start) / untraced_s, "ratio")
    return {
        "metrics": metrics,
        "attempted": len(panels),
        "failed": check(store_path, [(p, _rows(table)) for p, table in results]),
        "ops": {
            "jobs": n_jobs / len(panels),
            "stages": n_stages / len(panels),
            "tasks": n_tasks / len(panels),
            "gc": gc1 - gc0,
            "cpu": cpu1 - cpu0,
        },
    }
