"""Envelope parsing: raw event-hub message strings → typed envelope rows.

Replaces the reference's per-event ``get_event_as_str`` + ``json.loads``
loop (reference json_converter.py:37-69) with one declarative pass:

    raw bytes/string column
      → from_json(ENVELOPE_SCHEMA)   (PERMISSIVE; malformed → corrupt channel)
      → publisher = split(topic,'/')[0]
      → correlation_id assigned ONCE per source message, before fan-out,
        so all atomic records fanned out from one message share it
        (reference helpers.py:98-103 + json_converter call order).

Scale notes: ``from_json`` is JVM-side and codegen'd; the publisher
filter columns are available *before* the second (payload) parse so
Catalyst can drop uninteresting messages before the expensive inner
JSON parse (mirrors the reference's early topic drop, glow.py:78-80).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import topic_publisher
from eventhub_to_timescale_spark.schema import ENVELOPE_SCHEMA


def materialize(df: DataFrame, col: Column, name: str) -> DataFrame:
    """Force ``col`` to be evaluated exactly once per row by routing it
    through a single-element ``explode`` (a ``Generate`` node).

    Why: ``from_json`` is CodegenFallback, so it gets neither
    whole-stage-codegen common-subexpression elimination nor any
    protection from ``CollapseProject`` inlining — a parsed struct
    referenced by N downstream expressions is re-parsed N times
    (measured 14 ``from_json`` per row → ~8× slowdown on the glow
    path). ``Generate`` output is an *attribute*, which downstream
    projections reference for free, and ``CollapseProject`` cannot
    collapse across it. Zero shuffle, zero caching — works the same on
    a 1000-executor cluster.
    """
    return df.withColumn(name, F.explode(F.array(col)))


def with_correlation_id(df: DataFrame, deterministic: bool = False) -> DataFrame:
    """Assign a per-source-message correlation id (reference
    helpers.py:98-103: fresh UUIDv4 per message, shared by the whole
    fan-out).

    ``deterministic=True`` derives it from the raw message content
    (md5) instead — used by tests/oracles and by idempotent sinks,
    where re-processing a message must yield the same id.
    """
    if deterministic:
        cid = F.md5(F.col("raw"))
    else:
        cid = F.expr("uuid()")
    return df.withColumn("correlation_id", cid)


def parse_envelope(
    df: DataFrame,
    raw_col: str = "value",
    deterministic_ids: bool = False,
) -> DataFrame:
    """Raw JSON strings (column ``raw_col``) → envelope DataFrame.

    Output columns: raw, topic, payload, qos, retain, timestamp,
    publisher, correlation_id, corrupt (boolean error channel — the
    reference logs-and-drops, json_converter.py:66-69; we keep the row
    flagged so callers choose drop vs dead-letter).
    """
    env = F.from_json(
        F.col(raw_col).cast("string"), ENVELOPE_SCHEMA, {"mode": "PERMISSIVE"}
    )
    out = (
        materialize(df.withColumn("raw", F.col(raw_col).cast("string")), env, "env")
        .select(
            "raw",
            F.col("env.topic").alias("topic"),
            F.col("env.payload").alias("payload"),
            F.col("env.qos").alias("qos"),
            F.col("env.retain").alias("retain"),
            F.col("env.timestamp").alias("timestamp"),
        )
        .withColumn(
            # corrupt = unprocessable by ANY converter: unparseable
            # JSON nulls both fields, but a half-formed envelope
            # (valid JSON missing topic OR payload) is equally
            # unroutable — the reference raises on either
            # (is_topic_of_interest(None) / validate_message_body).
            # Flagging only the both-null case let half-formed rows
            # vanish from every channel.
            "corrupt", F.col("topic").isNull() | F.col("payload").isNull()
        )
        .withColumn("publisher", topic_publisher(F.col("topic")))
    )
    return with_correlation_id(out, deterministic=deterministic_ids)


def envelope_errors(df: DataFrame) -> DataFrame:
    """The dead-letter channel: rows that failed envelope parsing OR
    arrived without a topic/payload (unroutable either way)."""
    return df.filter(F.col("corrupt"))


def envelope_ok(df: DataFrame) -> DataFrame:
    return df.filter(~F.col("corrupt"))


def publisher_is(df: DataFrame, expected: str) -> DataFrame:
    """Rows whose publisher is ``expected`` (case-insensitive) — the
    reference's publisher guard (helpers.py:24-41 raises ValueError)
    as a filter. Each per-publisher ``*_to_records`` entry is the
    router over ``publisher_is(envelopes, <name>)``."""
    return df.filter(F.lower(F.col("publisher")) == expected.lower())


def unpivot_fields(
    df: DataFrame,
    fields: list[tuple[str, Column, str]],
    timestamp: Column,
    subject: Column,
    publisher: Column,
    correlation_id: Column,
) -> DataFrame:
    """The BMW fan-out (reference ``create_record_recursive``,
    timeseries.py:43-98) expressed Spark-first as **projection +
    unpivot**, not a row-at-a-time recursion:

    ``fields`` is a list of (measurement_of, value_column, type_tag);
    each input row explodes into one atomic record per non-null field.
    ``explode(array(struct(...)))`` keeps everything in whole-stage
    codegen; absent (null) fields and rows without a timestamp are
    dropped after the explode, which mirrors the reference's
    skip-absent-keys behavior (bmw_to_timescale.py:167-190).
    """
    structs = [
        F.struct(
            F.lit(name).alias("measurement_of"),
            value.cast("string").alias("measurement_value"),
            F.lit(type_tag).alias("measurement_data_type"),
        )
        for name, value, type_tag in fields
    ]
    rec = F.explode(F.array(*structs)).alias("rec")
    out = df.select(
        timestamp.alias("timestamp"),
        subject.alias("measurement_subject"),
        publisher.alias("measurement_publisher"),
        correlation_id.alias("correlation_id"),
        rec,
    ).select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        F.col("rec.measurement_of").alias("measurement_of"),
        F.col("rec.measurement_value").alias("measurement_value"),
        F.col("rec.measurement_data_type").alias("measurement_data_type"),
        "correlation_id",
    )
    return out.filter(
        F.col("measurement_value").isNotNull() & F.col("timestamp").isNotNull()
    )
