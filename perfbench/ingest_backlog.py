"""``ingest_backlog``: Structured Streaming drain of a pre-staged
backlog of raw envelope files, one file per trigger.

Loads ``sources``/``ingest``/``sinks``/``streaming``; bypasses
``operators``/``plans``.  One op is one micro-batch.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from probes import JobCounter, batch_rows, jvm_cpu_s, jvm_gc_s
from stats import percentile, tail_percentile

N_USERS = 2_000
# Messages per backlog file, i.e. per trigger.  A micro-batch costs a
# fixed ~0.5 s (planning, job set-up, sink commit) plus ~50 us per
# message at local[2]: 0.59 s at 2k messages, 1.08 s at 10k, 1.28 s at
# 15k.  At 10k the per-message work (parse, route, pivot, write) is
# over half of each batch, so it, not the fixed path, sets the rate.
MSGS_PER_FILE = 10_000
# Set-up starts a query and commits its first file, one of these small
# ones: set-up time is the query's start, not a batch of traffic.
SETUP_MSGS_PER_FILE = 1_000
SETUP_REPS = 3
MIN_BATCHES = 24
TAIL_P = tail_percentile(MIN_BATCHES)
# The first batch of a JVM takes 7-11 s (JIT, codegen) and the next few
# 1.5-2 s; after the set-up queries' batches and these, a batch settles.
WARM_BATCHES = 4
# The backlog: contiguous event-time slices, one per file, enough for
# the warm-up and the timed drain with a few to spare.  Slices of ~22 h
# make most batches span two dates, as a live stream's do at midnight.
N_SLICES = 33
TRACE_FILES = {True: 8, False: 3}
SINGLE_SLOT_FILES = 4

_BASE_US = int((gen.EPOCH0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


class Backlog:
    """Generated events and the envelope files rendered from them, one
    file per event-time slice, oldest first, plus a few corrupt and
    unrouted messages per file."""

    def __init__(self, b, tag: str, msgs_per_file: int) -> None:
        n_slices = self.n_slices = N_SLICES
        self.slice_us = gen.DAYS * 86_400_000_000 // n_slices
        events = gen.make_events(b.seed, msgs_per_file * n_slices, N_USERS)
        self.events_path = os.path.join(gen.write_events(events, b.path(f"events-{tag}")), "events.parquet")
        rng = np.random.default_rng(b.seed + 1)
        pool = b.path(f"pool-{tag}")
        os.makedirs(pool)
        self.files: list[str] = []
        self.corrupt = np.zeros(n_slices, dtype=int)
        self.unrouted = np.zeros(n_slices, dtype=int)
        mtime = time.time() - 10 * n_slices
        for i, values in enumerate(gen.envelopes_by_slice(events, n_slices)):
            self.corrupt[i], self.unrouted[i] = rng.integers(0, 4, 2)
            values += gen.corrupt_messages(rng, self.corrupt[i]) + gen.unrouted_messages(rng, self.unrouted[i])
            path = os.path.join(pool, f"part-{i:05d}.parquet")
            pq.write_table(pa.table({"value": pa.array(values, type=pa.string())}), path)
            # the file source orders files by modification time
            os.utime(path, (mtime + i, mtime + i))
            self.files.append(path)

    @staticmethod
    def slice_of(path: str) -> int:
        return int(os.path.basename(path)[5:10])


class Drain:
    """One streaming query over its own source directory, reading one
    backlog.  ``feed`` moves backlog files in and blocks until the query
    has committed them; batches run back to back, one file per
    trigger."""

    def __init__(self, b, tag: str, backlog: Backlog) -> None:
        from eventhub_to_timescale_spark.streaming.pipeline import (
            read_raw_stream,
            stream_to_conditions,
            write_conditions_stream,
        )

        self.backlog = backlog
        self.src = b.path(f"src-{tag}")
        os.makedirs(self.src)
        self.out, self.checkpoint = b.path(f"out-{tag}"), b.path(f"ck-{tag}")
        self.query = write_conditions_stream(
            stream_to_conditions(read_raw_stream(b.spark, self.src, max_files_per_trigger=1)),
            self.out,
            self.checkpoint,
        )

    def feed(self, files: list[str]) -> None:
        for f in files:
            os.rename(f, os.path.join(self.src, os.path.basename(f)))
        self.query.processAllAvailable()

    def batches(self) -> list[dict]:
        return batch_rows(self.query.recentProgress)

    def stop(self) -> list[dict]:
        """Stop the query; returns its batches (see probes.batch_rows)."""
        batches = self.batches()
        self.query.stop()
        return batches

    def batch_slices(self) -> dict[int, int]:
        """batch id → slice of the file it read, from the source log."""
        out = {}
        for f in glob.glob(os.path.join(self.checkpoint, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[entry["batchId"]] = Backlog.slice_of(entry["path"])
        return out

    def check(self) -> tuple[int, int]:
        """(batches committed, batches whose stored rows differ from
        the oracle's)."""
        import duckdb

        bl = self.backlog
        slices = self.batch_slices()
        con = duckdb.connect()
        try:
            want = oracle.expected_by_slice(
                con, bl.events_path, sorted(slices.values()), _BASE_US, bl.slice_us, bl.n_slices
            )
            got = oracle.stored_by_batch(con, self.out)
        finally:
            con.close()
        return len(slices), sum(got.get(batch) != want[s] for batch, s in slices.items())


def _durations_s(batches: list[dict]) -> list[float]:
    return [(x["end_ms"] - x["start_ms"]) / 1000.0 for x in batches]


def timed(b) -> dict:
    setup_backlog = Backlog(b, "setup", SETUP_MSGS_PER_FILE)
    backlog = Backlog(b, "main", MSGS_PER_FILE)
    files = backlog.files
    setup_s, drains = [], []
    for k, f in enumerate(setup_backlog.files[:SETUP_REPS]):
        t0 = time.perf_counter()
        drain = Drain(b, f"setup{k}", setup_backlog)
        drain.feed([f])
        setup_s.append(time.perf_counter() - t0)
        drain.stop()
        drains.append(drain)

    main = Drain(b, "main", backlog)
    drains.append(main)
    main.feed(files[:WARM_BATCHES])
    # size the timed drain to fill the run at the settled batch rate
    est_s = statistics.median(_durations_s(main.batches()))
    n = min(max(MIN_BATCHES, math.ceil(b.seconds / est_s)), len(files) - WARM_BATCHES)
    main.feed(files[WARM_BATCHES : WARM_BATCHES + n])
    batches = main.stop()[WARM_BATCHES:]
    rows = sum(x["rows"] for x in batches)
    durations = _durations_s(batches)
    drained_s = (batches[-1]["end_ms"] - batches[0]["start_ms"]) / 1000.0

    checks = [d.check() for d in drains]
    return {
        "attempted": sum(c[0] for c in checks),
        "failed": sum(c[1] for c in checks),
        "metrics": {
            "setup_s": (statistics.median(setup_s), "s"),
            "work_per_s": (rows / drained_s, "1/s"),
            "op_p50_s": (percentile(durations, 50.0), "s"),
            "op_tail_s": (percentile(durations, TAIL_P), "s"),
        },
        "notes": [f"ingest_backlog: {len(batches)} timed batches, {rows} messages, {drained_s:.2f}s, tail=p{TAIL_P:.1f}"],
    }


def _staged_ingest(b, tracer, backlog: Backlog, files: list[str]) -> tuple[dict, float, int]:
    """The batch ingest job over ``files``, each stage boundary
    materialized in turn so each layer's busy time is its own span.
    Returns metrics, the traced total and the failed channel checks."""
    from pyspark import StorageLevel

    from eventhub_to_timescale_spark.ingest.envelope import envelope_errors, parse_envelope
    from eventhub_to_timescale_spark.ingest.router import route_to_records, unrouted
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions, write_conditions_parquet

    def stage(name, df):
        with tracer.span(name, "ingest-staged"):
            df = df.persist(StorageLevel.MEMORY_ONLY)
            n = df.count()
        return df, n

    with tracer.span("ingest.staged_total", "ingest-staged") as total:
        raw, msgs = stage("ingest.read", b.spark.read.parquet(*files))
        env, _ = stage("ingest.parse_envelope", parse_envelope(raw))
        records, n_records = stage("ingest.route", route_to_records(env))
        wide, _ = stage("sinks.pivot", records_to_conditions(records))
        with tracer.span("sinks.write", "ingest-staged"):
            write_conditions_parquet(wide, b.path("staged-store"))
    corrupt = envelope_errors(env).count()
    n_unrouted = unrouted(env).count()
    for df in (raw, env, records, wide):
        df.unpersist()
    slices = [Backlog.slice_of(f) for f in files]
    failed = int(corrupt != backlog.corrupt[slices].sum()) + int(n_unrouted != backlog.unrouted[slices].sum())
    metrics = {
        "ingest.records_per_msg": (n_records / msgs, "ratio"),
        "ingest.corrupt_msgs": (corrupt, "count"),
        "ingest.unrouted_msgs": (n_unrouted, "count"),
    }
    return metrics, total.end - total.start, failed


def _fused_ingest_s(b, files: list[str]) -> float:
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.router import route_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions, write_conditions_parquet

    t0 = time.perf_counter()
    wide = records_to_conditions(route_to_records(parse_envelope(b.spark.read.parquet(*files))))
    write_conditions_parquet(wide, b.path("fused-store"))
    return time.perf_counter() - t0


def _store_stats(out: str, msgs: int, batches: int) -> dict:
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    size = sum(os.path.getsize(f) for f in files)
    return {
        "sinks.files_written": (len(files) / batches, "files/batch"),
        "sinks.bytes_per_msg": (size / msgs, "B"),
        "sinks.store_files": (len(files), "count"),
    }


def traced(b, tracer, focus: bool) -> dict:
    """Per-layer numbers: staged batch ingest (ingest, sinks), a traced
    drain (streaming, session) and the tracing overhead.  ``focus``
    sizes the section for the ingest_backlog workload."""
    backlog = Backlog(b, "main", MSGS_PER_FILE)
    k = TRACE_FILES[focus]
    drain = Drain(b, "traced", backlog)
    drain.feed(backlog.files[:WARM_BATCHES])  # not traced
    files = backlog.files[WARM_BATCHES:]
    fused_s = _fused_ingest_s(b, files[:k])
    metrics, staged_s, failed = _staged_ingest(b, tracer, backlog, files[:k])

    jobs = JobCounter(b.spark)
    gc0, cpu0 = jvm_gc_s(b.spark), jvm_cpu_s(b.spark)
    with tracer.span("streaming.drain", "ingest-stream"):
        drain.feed(files[k : 2 * k])
    gc1, cpu1 = jvm_gc_s(b.spark), jvm_cpu_s(b.spark)
    n_jobs, n_stages, n_tasks = jobs.count(str(drain.query.runId))
    all_batches = drain.stop()
    batches = all_batches[WARM_BATCHES:]

    def med(key: str) -> float:
        return statistics.median(x["durations"].get(key, 0) for x in batches)

    metrics.update(_store_stats(drain.out, sum(x["rows"] for x in all_batches), len(all_batches)))
    metrics.update(
        {
            "streaming.add_batch_ms": (med("addBatch"), "ms"),
            "streaming.query_planning_ms": (med("queryPlanning"), "ms"),
            "streaming.wal_commit_ms": (med("walCommit"), "ms"),
            "streaming.commit_offsets_ms": (med("commitOffsets"), "ms"),
            "streaming.latest_offset_ms": (med("latestOffset"), "ms"),
            "streaming.batches": (len(batches), "count"),
            "streaming.rows_per_batch": (statistics.mean(x["rows"] for x in batches), "count"),
            "trace.ingest_overhead": (staged_s / fused_s, "ratio"),
        }
    )
    span_self = tracer.self_time_by_name()
    for name in ("ingest.parse_envelope", "ingest.route", "sinks.pivot", "sinks.write"):
        metrics[f"{name}_s"] = (span_self[name], "s")
    attempted, mismatched = drain.check()
    return {
        "metrics": metrics,
        "attempted": 2 + attempted,
        "failed": failed + mismatched,
        "ops": {
            "jobs": n_jobs / len(all_batches),
            "stages": n_stages / len(all_batches),
            "tasks": n_tasks / len(all_batches),
            "gc": gc1 - gc0,
            "cpu": cpu1 - cpu0,
        },
        "single_slot": (backlog, files[2 * k :]),
    }


def single_slot_work_per_s(b, backlog: Backlog, files: list[str]) -> tuple[float, tuple[int, int]]:
    """The same drain on one task slot: the baseline a parallel drain
    is judged against.  Returns the rate and the drain's check."""
    drain = Drain(b, "single", backlog)
    drain.feed(files[:2])
    drain.feed(files[2 : 2 + SINGLE_SLOT_FILES])
    batches = drain.stop()[2:]
    rate = sum(x["rows"] for x in batches) / ((batches[-1]["end_ms"] - batches[0]["start_ms"]) / 1000.0)
    return rate, drain.check()
