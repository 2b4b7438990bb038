"""Structured Streaming wiring: the reference's four Azure Functions
collapse into one continuous DAG (SURVEY §3.1-3.2).

Reference semantics → Spark mapping:
- Event Hub trigger, batch per invocation (function.json
  ``cardinality: many``) ≙ micro-batch execution; the intermediate
  ``timescale`` hub between converter and sink functions becomes just
  a checkpointed stage boundary — no second network hop.
- at-least-once + retry per batch (timescale.py:31-32) ≙ foreachBatch
  whose sink overwrites the batch's own ``date=…/_batch_id=N``
  directories, so a retried batch replaces its files instead of
  duplicating them. Nothing is keyed on the message: a replay is
  idempotent only when its batch boundaries repeat, and two queries
  must not share an ``out_path`` (see ``write_conditions_stream``).
- BMW dedup-state table (duplicate_check.py, store-after-send
  ordering §3.2) ≙ ``dropDuplicatesWithinWatermark`` on
  (vin, lastUpdatedAt): state is committed with the sink in the same
  checkpoint, which is exactly "don't mark processed before send
  succeeded".
- The reference has NO event-time reasoning (late rows are just
  inserted). Watermarks here are the documented upgrade, not a port:
  late data within the watermark still lands; beyond it, it is
  dropped *by the stateful operators only* — the append path accepts
  any lateness, like the hypertable did.

In production the source is Kafka/EventHubs (``format("kafka")``,
``value`` column); tests use a file source with the same raw-string
schema, which exercises an identical plan downstream of the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
from eventhub_to_timescale_spark.ingest.router import route_to_records
from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions


def read_raw_stream(
    spark: SparkSession,
    path: str,
    schema: str = "value string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based raw message stream (tests / replay). Swap for
    ``read_kafka_stream`` against a live hub.

    The rows are spread round-robin over every task slot
    (``defaultParallelism``). The file source packs a trigger's files
    into splits of up to 128 MB and never splits a parquet row group,
    so a replay trigger (one file with ``max_files_per_trigger=1``)
    reads as ONE split; without the spread the whole micro-batch
    (envelope parse, routing, pivot, sink write) runs as a single task
    on one core. Only the raw strings cross the shuffle (about 2.2 MB
    per 10k glow/homie/emon envelopes before compression); every parse
    runs after it, in parallel."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path).repartition(spark.sparkContext.defaultParallelism)


def stream_to_conditions(
    raw: DataFrame,
    watermark: str = "10 minutes",
    event_time_col: str = "timestamp",
    deterministic_ids: bool = False,
) -> DataFrame:
    """raw envelope strings → canonical wide conditions rows
    (continuous version of the batch ingest DAG).

    ``deterministic_ids=True`` derives correlation_id from the message
    bytes (md5) instead of uuid() — REQUIRED when the sink keys
    idempotency on correlation_id (write_conditions_jdbc_idempotent):
    a retried micro-batch recomputes the plan, and fresh uuids would
    defeat the merge's duplicate detection.

    The batch runs in as many tasks as ``raw`` has partitions; both
    sources give it at least one per task slot (``read_raw_stream``
    by a round-robin spread, ``read_kafka_stream`` by splitting offset
    ranges), so no shuffle is added here."""
    env = parse_envelope(raw, deterministic_ids=deterministic_ids)
    records = route_to_records(env)
    wide = records_to_conditions(records, with_unique_id=False)
    return wide.withWatermark(event_time_col, watermark)


def dedup_stream(
    records: DataFrame,
    keys: list[str],
    event_time_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keyed streaming dedup with bounded state — the BMW
    (vin, lastUpdatedAt) path. State for keys older than the watermark
    is dropped (the reference's Table Storage rows lived forever; at
    100 TB/day that is not an option, and the poll cadence — 10 min —
    makes an hour of state generous)."""
    return records.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_bucket_avg(
    conditions: DataFrame,
    of: str,
    bucket_seconds: int = 900,
    watermark: str | None = None,
    event_time_col: str = "timestamp",
) -> DataFrame:
    """Q1 stream-side: per-subject tumbling-window average with
    watermarked state (append output once a window closes).

    ``watermark=None`` keeps the watermark already defined upstream
    (``stream_to_conditions`` sets one; redefining is disallowed)."""
    if watermark is not None:
        conditions = conditions.withWatermark(event_time_col, watermark)
    return (
        conditions.filter(F.col("measurement_of") == of)
        .groupBy(
            F.col("measurement_subject"),
            F.window(F.col(event_time_col), f"{bucket_seconds} seconds").alias("w"),
        )
        .agg(F.avg("measurement_number").alias("avg_value"))
        .select(
            "measurement_subject",
            F.col("w.start").alias("time"),
            "avg_value",
        )
    )


def write_conditions_stream(
    conditions: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = False,
):
    """Micro-batch sink. Each batch is written as parquet under
    ``date=…/_batch_id=N`` and overwrites exactly those directories, so
    a retried batch N replaces its own files instead of duplicating
    them.

    That is idempotent only when batch boundaries repeat: a replay that
    cuts the same messages into different batches (another
    ``maxFilesPerTrigger``, a fresh checkpoint) stores them again under
    other batch ids. Nothing keys on (correlation_id, measurement_of).
    Two queries must not share an ``out_path``: batch ids restart at 0
    per query, so one query's batch N replaces the other's."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("date", F.to_date("timestamp"))
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option(
                "partitionOverwriteMode", "dynamic"
            )  # only touched date-partitions rewritten
            .partitionBy("date", "_batch_id")
            .parquet(out_path)
        )

    writer = (
        conditions.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bucket_avg_stream_start(
    agg: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = False,
):
    """Append-mode windowed-aggregate sink (rows emitted when their
    window falls behind the watermark)."""
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Production source wiring (Kafka / Event Hubs' Kafka surface)
# ---------------------------------------------------------------------------


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The ``readStream.format("kafka")`` option set the engine deploys
    with (reference binding: ``json_to_timeseries/function.json:5-14``'s
    Event Hub trigger). ``failOnDataLoss=false`` mirrors the
    reference's at-least-once posture (an expired-retention gap should
    degrade, not kill, the stream); ``maxOffsetsPerTrigger`` is the
    micro-batch back-pressure knob (≙ the trigger's batch cardinality).
    Kept as a pure function so the wiring is unit-testable in
    environments without the Kafka connector jar."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def eventhubs_kafka_options(
    namespace: str,
    eventhub: str,
    connection_string: str,
    consumer_group: str = "$Default",
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """Event Hubs speaks the Kafka protocol on port 9093 (public
    Azure surface): SASL_SSL / PLAIN with username ``$ConnectionString``
    and the connection string as the password. This maps the
    reference's connection-string binding
    (``bmw_to_timescale/function.json:5-27``) onto the plain Kafka
    connector — no Azure-specific Spark package needed."""
    jaas_pw = connection_string.replace("\\", "\\\\").replace('"', '\\"')
    jaas = (
        "org.apache.kafka.common.security.plain.PlainLoginModule required "
        'username="$ConnectionString" '
        f'password="{jaas_pw}";'
    )
    opts = kafka_reader_options(
        f"{namespace}.servicebus.windows.net:9093",
        eventhub,
        starting_offsets=starting_offsets,
    )
    opts.update(
        {
            "kafka.security.protocol": "SASL_SSL",
            "kafka.sasl.mechanism": "PLAIN",
            "kafka.sasl.jaas.config": jaas,
            "kafka.group.id": consumer_group,
        }
    )
    return opts


def read_kafka_stream(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """``readStream.format("kafka")`` → the same ``value string``
    schema the file-source stand-in produces, so every downstream
    stage (``stream_to_conditions`` …) is source-agnostic. Raises a
    clear error when the Kafka connector jar isn't on the classpath
    (this sandbox) — the plan shape is covered by the file-source
    tests, the option wiring by ``tests/test_sources_sinks.py``.

    ``minPartitions`` defaults to ``defaultParallelism``: a topic with
    fewer partitions than task slots has its offset ranges split so
    each micro-batch still runs on every slot, with no shuffle; a topic
    with at least as many partitions reads one-to-one, as before."""
    reader = spark.readStream.format("kafka")
    options = {
        "minPartitions": str(spark.sparkContext.defaultParallelism),
        **options,
    }
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:  # pragma: no cover - environment-specific
        raise RuntimeError(
            "Kafka connector unavailable: submit with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        ) from e
    return raw.selectExpr("CAST(value AS STRING) AS value")
