"""Ingest + dashboard benchmark for the engine.

    python3 perfbench/run.py --workload {ingest_backlog,dashboard_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  The engine is imported from the
checkout beside this directory; everything the engine reads is
generated from ``--seed`` (see ``gen.py``), and every file the run
writes goes under ``.perfbench_work/`` in the checkout, removed when
the run ends.

Workloads (see BENCHMARK.json for sizes and bounds):

- ``ingest_backlog``: a Structured Streaming drain of a pre-staged
  backlog of glow/homie/emon envelope files, one file per trigger,
  through ``stream_to_conditions`` -> ``write_conditions_stream``.
- ``dashboard_mix``: one closed-loop client issuing a seeded Q1-Q9
  panel mix against a date-partitioned store written by
  ``write_conditions_parquet``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant and prints the per-layer metrics.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Outputs are checked against DuckDB outside the timed
region; a mismatch or an exception counts as a failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest_backlog", "dashboard_mix")


def task_slots() -> int:
    """Half the cores: leaves room for the driver, the client and other
    tenants, and gave the steadiest per-process medians (one slot made
    the drain slower without a narrower spread)."""
    return max(1, (os.cpu_count() or 2) // 2)


def _engine_importable() -> bool:
    pkg = os.path.join(ROOT, "eventhub_to_timescale_spark", "__init__.py")
    return os.path.isfile(pkg)


class Bench:
    """One run: its seed, work directory and Spark session."""

    def __init__(self, seed: int, seconds: float, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.slots = task_slots()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, slots: int | None = None):
        from eventhub_to_timescale_spark.session import get_spark

        slots = slots or self.slots
        os.environ["SPARK_GRAFT_CPUS"] = str(slots)
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{slots}]",
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # temp files stay in the work directory (no hsperfdata
                # file either)
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart_spark(self, slots: int):
        self.spark.stop()
        return self.start_spark(slots)

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_traced(bench: Bench, workload: str) -> dict:
    """Traced run: every layer's per-layer numbers, with the focused
    workload's section sized up.  Spans go to ``.perfbench_spans/``."""
    import dashboard_mix
    import ingest_backlog
    from trace import Tracer

    tracer = Tracer()
    ing = ingest_backlog.traced(bench, tracer, workload == "ingest_backlog")
    dash = dashboard_mix.traced(bench, tracer, workload == "dashboard_mix")
    ops = (ing if workload == "ingest_backlog" else dash)["ops"]
    with tracer.span("session.restart_single_slot", "single-slot"):
        bench.restart_spark(1)
    with tracer.span("streaming.single_slot_drain", "single-slot"):
        single, (single_attempted, single_failed) = ingest_backlog.single_slot_work_per_s(bench, *ing["single_slot"])

    spans_dir = os.path.join(ROOT, ".perfbench_spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{workload}-seed{bench.seed}.jsonl")
    tracer.write(spans_path)
    return {
        "attempted": ing["attempted"] + dash["attempted"] + single_attempted,
        "failed": ing["failed"] + dash["failed"] + single_failed,
        "metrics": {
            **ing["metrics"],
            **dash["metrics"],
            "streaming.single_slot_work_per_s": (single, "1/s"),
            "session.jobs_per_op": (ops["jobs"], "jobs/op"),
            "session.stages_per_op": (ops["stages"], "stages/op"),
            "session.tasks_per_op": (ops["tasks"], "tasks/op"),
            "session.jvm_gc_s": (ops["gc"], "s"),
            "session.jvm_cpu_s": (ops["cpu"], "s"),
        },
        "notes": [f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}"],
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not _engine_importable():
        print(f"engine package not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the gateway's connection file and every Python temp file stay in
    # the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    from probes import jvm_gc_s, loadavg

    bench = Bench(args.seed, args.seconds, work)
    load_before = loadavg()
    try:
        bench.start_spark()
        if args.trace:
            result = run_traced(bench, args.workload)
        elif args.workload == "ingest_backlog":
            import ingest_backlog

            result = ingest_backlog.timed(bench)
        else:
            import dashboard_mix

            result = dashboard_mix.timed(bench)
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "slots": bench.slots,
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "session.jvm_gc_s": jvm_gc_s(bench.spark),
        }
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print("# run " + json.dumps(stamp))
    for line in result.get("notes", []):
        print("# " + line)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main(sys.argv[1:])
    print(f"# wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
