"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-at-any-scale first:
- UTC session timezone end-to-end (the reference normalizes every
  timestamp to UTC ISO-8601; see reference helpers.py:78-95) so results
  are byte-identical regardless of cluster locale.
- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (every Pandas-UDF hop is Arrow-batched, never per-row).
- shuffle partitions sized for local test runs; on a real cluster this
  is overridden by AQE's coalescing + `spark.sql.shuffle.partitions`
  set to ~2-3× total cores by the deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _usable_cores() -> int:
    """Cores in this process's CPU affinity mask (a container pinned to
    a few cores of a large host sees only those); the host's count
    where the platform has no affinity call."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "eventhub-to-timescale-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from env
    (``SPARK_GRAFT_CPUS``, else the cores this process may run on, as
    ``nproc`` counts them — more task slots than cores only
    oversubscribes them) so the same entrypoints work in tests
    (local[N]) and on a cluster (where ``master`` is left to
    spark-submit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cores())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # EAV value coercion is try-cast-shaped by design (bad values →
        # NULL → reject channel, reference timescale.py:121-124); ANSI
        # fail-fast casts would kill whole jobs on one bad record
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime SMJ→shuffled-hash conversion (guide §3.1): when a
        # post-shuffle partition's build side fits this bound, AQE
        # replaces the sort-merge join with a shuffled-hash join — the
        # never-sort-kilobyte-array-payloads rule (r8: sorted exchanges
        # of gram arrays spilled ~200 GB at the 10× sweep) enforced at
        # RUNTIME from real sizes instead of per-join hints that would
        # also block AQE's broadcast conversion when the other side is
        # tiny.  Size-based and scale-neutral: huge per-partition
        # builds keep the spillable sort-merge path.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # test parquet carries TIMESTAMP(NANOS) (pandas-written); Spark
        # has no nanos type — read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timezone-less parquet timestamps read as TIMESTAMP (LTZ, UTC
        # session) rather than TIMESTAMP_NTZ: keeps the whole engine on
        # one timestamp type AND lets time-range predicates push into
        # the parquet scan (a cast-normalizing projection would block
        # row-group pruning — the difference between scanning a day and
        # scanning 100 TB)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
