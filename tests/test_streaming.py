"""Structured Streaming pipeline tests: file-source micro-batches
through the full envelope→converter→conditions DAG, keyed dedup with
watermark state, and idempotent re-delivery."""

from __future__ import annotations

import json

import pytest

from tests.conftest import make_envelope

GLOW_PAYLOAD = {
    "electricitymeter": {
        "timestamp": "2024-02-01T10:00:00Z",
        "energy": {"import": {"cumulative": 100.5, "day": 1.0}},
        "power": {"value": 0.3},
    }
}


def _write_raw(spark, tmpdir, messages, subdir="raw"):
    path = f"{tmpdir}/{subdir}"
    spark.createDataFrame([(m,) for m in messages], "value string").coalesce(
        1
    ).write.mode("append").parquet(path)
    return path


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def test_stream_full_pipeline(spark, tmpdir):
    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
        write_conditions_stream,
    )

    messages = [
        make_envelope("glow/X/SENSOR/electricitymeter", GLOW_PAYLOAD),
        make_envelope(
            "homie/room/thermostat/mode", "auto", timestamp="2024-02-01T09:30:00Z"
        ),
        make_envelope("emon/emonTx4", {"time": 1706777400, "P1": 100}),
    ]
    raw_path = _write_raw(spark, tmpdir, messages)
    raw = read_raw_stream(spark, raw_path)
    assert raw.isStreaming
    cond = stream_to_conditions(raw)
    q = write_conditions_stream(
        cond, f"{tmpdir}/out", f"{tmpdir}/ckpt", trigger_available_now=True
    )
    q.awaitTermination(120)
    out = spark.read.parquet(f"{tmpdir}/out")
    by_pub = {
        r.measurement_publisher: r["count"]
        for r in out.groupBy("measurement_publisher").count().collect()
    }
    # glow: cumulative, day, power_value; homie: mode; emon: P1
    assert by_pub == {"glow": 3, "homie": 1, "emon": 1}


def test_stream_single_file_batch_runs_on_every_slot(spark, tmpdir):
    """A one-file trigger reads as ONE input split; ``read_raw_stream``
    spreads its raw strings round-robin over ``defaultParallelism``
    partitions (N at local[N]), so the micro-batch runs in N tasks —
    and stores exactly the rows the un-repartitioned batch plan
    produces."""
    from collections import Counter

    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.router import route_to_records
    from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions
    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
    )
    from tests.test_router_single_pass import MESSAGES

    messages = MESSAGES + [
        make_envelope("emon/emonTx4", {"time": 1706777400 + i, "P1": i, "T1": 0.5 * i})
        for i in range(30)
    ]
    raw_path = _write_raw(spark, tmpdir, messages)
    assert spark.read.parquet(raw_path).rdd.getNumPartitions() == 1

    seen = {}

    def capture(df, batch_id):
        seen["partitions"] = df.rdd.getNumPartitions()
        seen["rows"] = df.collect()

    q = (
        stream_to_conditions(read_raw_stream(spark, raw_path), deterministic_ids=True)
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    n = spark.sparkContext.defaultParallelism
    assert n > 1
    assert seen["partitions"] == n
    want = records_to_conditions(
        route_to_records(
            parse_envelope(spark.read.parquet(raw_path), deterministic_ids=True)
        ),
        with_unique_id=False,
    ).collect()
    # 21 records from MESSAGES (test_router_single_pass) + 2 per emon
    assert len(want) == 21 + 60
    assert Counter(map(tuple, seen["rows"])) == Counter(map(tuple, want))


def test_stream_idempotent_redelivery(spark, tmpdir):
    """Re-running the same input with a FRESH checkpoint (≙ redelivery
    of every batch) must not duplicate rows in the sink."""
    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
        write_conditions_stream,
    )

    raw_path = _write_raw(
        spark,
        tmpdir,
        [make_envelope("emon/emonTx4", {"time": 1706777400, "P1": 100, "T1": 20})],
    )
    for attempt in range(2):
        q = write_conditions_stream(
            stream_to_conditions(read_raw_stream(spark, raw_path)),
            f"{tmpdir}/out",
            f"{tmpdir}/ckpt{attempt}",  # fresh checkpoint = full replay
            trigger_available_now=True,
        )
        q.awaitTermination(120)
    assert spark.read.parquet(f"{tmpdir}/out").count() == 2


def test_stream_checkpoint_resume_processes_only_new_files(spark, tmpdir):
    """Restarting with the SAME checkpoint must consume only data that
    arrived since the last run (exactly-once source progress)."""
    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
        write_conditions_stream,
    )

    def run():
        q = write_conditions_stream(
            stream_to_conditions(read_raw_stream(spark, f"{tmpdir}/raw")),
            f"{tmpdir}/out",
            f"{tmpdir}/ckpt",  # SAME checkpoint across runs
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    _write_raw(
        spark, tmpdir, [make_envelope("emon/emonTx4", {"time": 1706777400, "P1": 1})]
    )
    run()
    assert spark.read.parquet(f"{tmpdir}/out").count() == 1
    # new file arrives; old one must not be re-processed
    _write_raw(
        spark, tmpdir, [make_envelope("emon/emonTx4", {"time": 1706777460, "P1": 2})]
    )
    run()
    out = spark.read.parquet(f"{tmpdir}/out")
    assert out.count() == 2
    assert {r.measurement_number for r in out.collect()} == {1.0, 2.0}


def test_stream_dedup_within_watermark(spark, tmpdir):
    from eventhub_to_timescale_spark.streaming.pipeline import dedup_stream

    bmw = {
        "vin": "VIN1",
        "state": {
            "lastUpdatedAt": "2024-02-01T12:00:00Z",
            "electricChargingState": {"chargingStatus": "CHARGING"},
        },
    }
    raw_path = _write_raw(spark, tmpdir, [json.dumps(bmw)] * 3, subdir="bmw")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from eventhub_to_timescale_spark.ingest.bmw import BMW_STATE_SCHEMA

    stream = (
        spark.readStream.schema("value string")
        .parquet(raw_path)
        .withColumn("m", F.from_json("value", BMW_STATE_SCHEMA))
        .select(
            F.col("m.vin").alias("vin"),
            F.col("m.state.lastUpdatedAt").alias("last_updated_at"),
            F.to_timestamp("m.state.lastUpdatedAt").alias("timestamp"),
        )
    )
    deduped = dedup_stream(stream, ["vin", "last_updated_at"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("bmw_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM bmw_dedup").collect()[0].c == 1


def test_streaming_bucket_avg_appends_closed_windows(spark, tmpdir):
    from eventhub_to_timescale_spark.streaming.pipeline import (
        bucket_avg_stream_start,
        read_raw_stream,
        stream_to_conditions,
        streaming_bucket_avg,
    )

    # two samples in one 15-min window + one much later event that
    # advances the watermark past it
    msgs = [
        make_envelope("emon/emonTx4", {"time": 1706777400, "P1": 100}),
        make_envelope("emon/emonTx4", {"time": 1706777410, "P1": 200}),
        make_envelope("emon/emonTx4", {"time": 1706790000, "P1": 1}),
    ]
    raw_path = _write_raw(spark, tmpdir, msgs)
    agg = streaming_bucket_avg(
        stream_to_conditions(read_raw_stream(spark, raw_path), watermark="30 minutes"),
        of="P1",
        bucket_seconds=900,
    )
    q = bucket_avg_stream_start(
        agg, f"{tmpdir}/agg", f"{tmpdir}/aggckpt", trigger_available_now=True
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(f"{tmpdir}/agg").collect()
    closed = {(r.measurement_subject, r.avg_value) for r in rows}
    assert ("emonTx4", 150.0) in closed


def test_stream_late_data_watermark_boundary(spark, tmpdir):
    """Per-micro-batch emission sets at the watermark boundary
    (watermark 10 min, 15-min tumbling windows; emon epoch payloads;
    one file per micro-batch via maxFilesPerTrigger=1):

    - batch 0 (file A): 10:00:00→100, 10:00:10→200, 10:31:00→5.
      Watermark advances to 10:21 after the batch.
    - batch 1 (file B): 10:46:00→9. Runs with watermark 10:21 →
      window [10:00,10:15) closes and emits avg 150. Watermark → 10:36.
    - batch 2 (file C): 10:05:00→400 is BEYOND the watermark for its
      long-closed window → dropped (never re-emitted, no state);
      10:32:00→50 is late (event time < watermark) but its window
      [10:30,10:45) is still open → KEPT; 11:00:00→7 advances the
      watermark to 10:50, closing [10:30,10:45).
    - final flush: [10:30,10:45) emits avg(5, 50) = 27.5 — proof the
      within-open-window late row joined the batch-0 row, and 400
      never contaminated the already-closed 10:00 window (which
      emitted exactly once, before file C was read).

    NOTE the deliberate extra batch between the close and the
    too-late arrival: Spark's late-record filter uses the watermark
    from the previous batch, so a row arriving in the very batch
    where its window closes can still be admitted — the boundary is
    only sharp one batch later.
    """
    import time
    from datetime import datetime, timezone

    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
        streaming_bucket_avg,
    )

    def e(hh, mm, ss):
        return int(
            datetime(2024, 2, 1, hh, mm, ss, tzinfo=timezone.utc).timestamp()
        )

    files = [
        [
            make_envelope("emon/emonTx4", {"time": e(10, 0, 0), "P1": 100}),
            make_envelope("emon/emonTx4", {"time": e(10, 0, 10), "P1": 200}),
            make_envelope("emon/emonTx4", {"time": e(10, 31, 0), "P1": 5}),
        ],
        [make_envelope("emon/emonTx4", {"time": e(10, 46, 0), "P1": 9})],
        [
            make_envelope("emon/emonTx4", {"time": e(10, 5, 0), "P1": 400}),
            make_envelope("emon/emonTx4", {"time": e(10, 32, 0), "P1": 50}),
            make_envelope("emon/emonTx4", {"time": e(11, 0, 0), "P1": 7}),
        ],
    ]
    raw_path = None
    for msgs in files:
        raw_path = _write_raw(spark, tmpdir, msgs)
        time.sleep(1.1)  # file source orders batches by modification time

    agg = streaming_bucket_avg(
        stream_to_conditions(
            read_raw_stream(spark, raw_path, max_files_per_trigger=1),
            watermark="10 minutes",
        ),
        of="P1",
        bucket_seconds=900,
    )
    emitted: dict[int, list] = {}

    def capture(df, batch_id):
        rows = df.collect()
        if rows:
            emitted[batch_id] = [
                (r.time.strftime("%H:%M"), round(r.avg_value, 6)) for r in rows
            ]

    t0 = time.perf_counter()
    q = (
        agg.writeStream.foreachBatch(capture)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/lateckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    elapsed = time.perf_counter() - t0
    print(f"\navailableNow envelope→conditions→window-agg run: {elapsed:.1f}s")

    all_rows = [r for rows in emitted.values() for r in rows]
    assert sorted(all_rows) == [("10:00", 150.0), ("10:30", 27.5)]
    # each closed window emitted in exactly one micro-batch (append
    # mode never revises), and 10:00 closed before file C was read
    assert len(all_rows) == len(set(w for (w, _) in all_rows))
    batches_by_window = {w: bid for bid, rows in emitted.items() for (w, _) in rows}
    assert batches_by_window["10:00"] < batches_by_window["10:30"]


def test_stream_kill_restart_jdbc_idempotent(spark, tmpdir):
    """End-to-end at-least-once → exactly-once-ish: a checkpointed
    stream writes each micro-batch to Derby through the idempotent
    JDBC merge, is KILLED after a batch's sink write succeeds but
    before its checkpoint commit, and is restarted from the same
    checkpoint. The redelivered batch must merge to zero new rows
    (reference store-after-send semantics, timescale.py:31-32)."""
    from eventhub_to_timescale_spark.sinks.conditions import (
        records_to_conditions,
        write_conditions_jdbc,
        write_conditions_jdbc_idempotent,
    )
    from eventhub_to_timescale_spark.streaming.pipeline import (
        read_raw_stream,
        stream_to_conditions,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    derby_url = f"jdbc:derby:{tmpdir}/db;create=true"
    derby_props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    # one file per micro-batch (maxFilesPerTrigger=1): three batches
    for i in range(3):
        _write_raw(
            spark,
            tmpdir,
            [make_envelope("emon/emonTx4", {"time": 1706777400 + i, "P1": 100 + i})],
            subdir=f"raw/part{i}",
        )

    # pre-create the target table (the merge needs it to exist)
    empty = records_to_conditions(
        spark.createDataFrame(
            [],
            "timestamp timestamp, measurement_subject string, "
            "measurement_publisher string, measurement_of string, "
            "measurement_value string, measurement_data_type string, "
            "correlation_id string",
        )
    )
    write_conditions_jdbc(empty, derby_url, properties=derby_props)

    def run(sabotage: bool):
        injected: list[int] = []

        def write_batch(batch_df, batch_id):
            write_conditions_jdbc_idempotent(
                batch_df,
                derby_url,
                batch_id=batch_id,
                properties=derby_props,
            )
            if sabotage and batch_id == 1 and not injected:
                injected.append(batch_id)
                # sink write landed; commit will NOT be recorded →
                # this batch is redelivered on restart
                raise RuntimeError("injected post-write crash")

        raw = read_raw_stream(
            spark, f"{tmpdir}/raw/part*", max_files_per_trigger=1
        )
        cond = stream_to_conditions(raw, deterministic_ids=True)
        q = (
            cond.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        return q

    q = run(sabotage=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)

    mid = spark.read.jdbc(derby_url, "conditions", properties=derby_props)
    assert mid.count() >= 1  # the killed batch's write DID land

    q = run(sabotage=False)
    q.awaitTermination(120)
    assert not q.isActive

    back = spark.read.jdbc(derby_url, "conditions", properties=derby_props)
    rows = back.collect()
    # 3 distinct emon messages x 1 measurement (P1) — and the
    # redelivered batch added nothing
    assert back.count() == 3
    keys = {(r.correlation_id, r.measurement_of) for r in rows}
    assert len(keys) == 3
