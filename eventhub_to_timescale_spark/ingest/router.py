"""Publisher routing: one pass over the envelope, per-publisher record
arrays, one record explode.

Replaces the reference's ``send_to_converter`` dispatch
(json_converter.py:145-163). It is the one ingest implementation: the
publisher modules declare their rules, and every ``*_to_records``
entry is this router over its own publisher's messages. A union of
per-publisher plans scans the raw source and runs the envelope
``from_json`` once per branch (Catalyst shares no subtree across
union branches: a 3× scan tax, 4.6 s warm at sf0.1). The single-pass
plan evaluates the source exactly once:

    envelope rows (scanned once)
      → glow payload parse,   guarded by when(publisher = 'glow')
      → emon map parse,       guarded by when(publisher = 'emon')
        (both materialized through the Generate barrier — see
        envelope.materialize — so each parses at most once per row)
      → per-message Project, once per message: record timestamp,
        subject, publisher, topic leaf, glow meter struct
      → per-publisher array<struct<of, value, type>> over those
        columns:
          glow  = the 11 declared leaves (glow.glow_fields)
          homie = one element, measurement_of from the topic
          emon  = transform(map_entries(kv)) minus the 'time' key
      → concat → array-level null-value filter
      → record explode (Generate); a null record timestamp nulls the
        array, so the message yields no rows.

Nothing above the record explode re-evaluates a per-message
expression: the Project above it runs once per record (2-3 per
message), and a Filter on the timestamp would be pushed below the
per-message Project with the parse inlined (tests/
test_ingest_plan_shape.py pins both). The per-branch guards are each
publisher's rules. At 100 TB this is one linear stage with no
repeated scan. tests/test_router_single_pass.py checks it against
``route_to_records_union``, the union of single-publisher routes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import (
    parse_timestamp_any,
    topic_part,
    topic_subject,
)
from eventhub_to_timescale_spark.functions.typeinfer import infer_type_tag
from eventhub_to_timescale_spark.ingest.emon import EMON_SUBJECTS
from eventhub_to_timescale_spark.ingest.envelope import materialize, publisher_is
from eventhub_to_timescale_spark.ingest.glow import (
    GLOW_PAYLOAD_SCHEMA,
    GLOW_SUBJECTS,
    glow_fields,
)
from eventhub_to_timescale_spark.ingest.homie import (
    HOMIE_EVENTS_OF_INTEREST,
    _STRING_MEASURES,
)
from eventhub_to_timescale_spark.schema import TYPE_NUMBER, TYPE_STRING

KNOWN_PUBLISHERS = ("glow", "homie", "emon")

_REC_TYPE = (
    "array<struct<measurement_of:string,measurement_value:string,"
    "measurement_data_type:string>>"
)


def _rec(of: Column, value: Column, type_tag: Column) -> Column:
    return F.struct(
        of.alias("measurement_of"),
        value.cast("string").alias("measurement_value"),
        type_tag.alias("measurement_data_type"),
    )


def route_to_records(
    envelope_df: DataFrame,
    dynamic_fallback: bool = False,
    dynamic_max_depth: int = 6,
    dynamic_ignore_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Parsed envelope rows → canonical atomic records across all
    MQTT publishers (glow, homie, emon) in a single pass.

    ``dynamic_fallback=True`` adds a fourth guarded branch: messages
    from publishers no converter declares flow through the
    arbitrary-depth dynamic flatten (``ingest.dynamic``) instead of
    being dropped — subject from the topic, timestamp from the
    envelope, leaf-key record names. Same single scan; the flatten
    expression only evaluates on unknown-publisher rows (CaseWhen
    short-circuit). This is the onboarding path for a sensor nobody
    has written a declared-struct converter for yet."""
    pub = F.lower(F.col("publisher"))
    has_payload = F.col("payload").isNotNull()
    base = (
        envelope_df
        if dynamic_fallback
        else envelope_df.filter(pub.isin(*KNOWN_PUBLISHERS))
    )

    # payload parses, evaluated only for the matching publisher's rows
    # (CaseWhen short-circuits) and at most once per row (Generate
    # attribute — from_json is CodegenFallback, see envelope.materialize)
    base = materialize(
        base,
        F.when(
            (pub == "glow") & has_payload,
            F.from_json(F.col("payload"), GLOW_PAYLOAD_SCHEMA),
        ),
        "gp",
    )
    base = materialize(
        base,
        F.when(
            (pub == "emon") & has_payload,
            F.from_json(F.col("payload"), "map<string,string>"),
        ),
        "kv",
    )

    subject_last = topic_subject(F.col("topic"))
    meter = F.when(
        subject_last == "electricitymeter", F.col("gp.electricitymeter")
    ).otherwise(F.col("gp.gasmeter"))

    # record timestamp source differs per publisher: glow = payload
    # meter.timestamp (glow.py:17), homie = envelope timestamp
    # (homie.py:33), emon = payload 'time' key (emon.py
    # extract_timestamp), dynamic fallback = envelope timestamp;
    # null → message dropped, as the reference converters drop it
    rec_ts = (
        F.when(pub == "glow", parse_timestamp_any(meter["timestamp"]))
        .when(pub == "emon", parse_timestamp_any(F.col("kv")["time"]))
        .otherwise(parse_timestamp_any(F.col("timestamp")))
    )
    subject = F.when(pub == "homie", topic_part(F.col("topic"), -2)).otherwise(
        subject_last
    )

    # Every per-message expression is evaluated ONCE, here, in the
    # Project below the record Generate. The Generate's generator runs
    # interpreted (filter/transform are CodegenFallback), so each
    # reference to an inline expression there would re-evaluate it —
    # the meter pick alone once per glow leaf — and the Project
    # above it runs once per exploded record.
    msgs = base.select(
        rec_ts.alias("timestamp"),
        subject.alias("measurement_subject"),
        pub.alias("measurement_publisher"),
        "correlation_id",
        "payload",
        "kv",
        subject_last.alias("leaf"),
        meter.alias("meter"),
    )
    pub = F.col("measurement_publisher")
    leaf = F.col("leaf")

    glow_arr = F.when(
        (pub == "glow") & has_payload & leaf.isin(*GLOW_SUBJECTS),
        F.array(
            *[
                _rec(F.lit(name), value, F.lit(tag))
                for name, value, tag in glow_fields(F.col("meter"), leaf)
            ]
        ),
    )
    # homie: the record timestamp IS the envelope's, so the null-
    # timestamp guard below covers homie's envelope-timestamp check
    homie_arr = F.when(
        (pub == "homie") & has_payload & leaf.isin(*HOMIE_EVENTS_OF_INTEREST),
        F.array(
            _rec(
                leaf,
                F.col("payload"),
                F.when(leaf.isin(*_STRING_MEASURES), F.lit(TYPE_STRING)).otherwise(
                    F.lit(TYPE_NUMBER)
                ),
            )
        ),
    )
    emon_arr = F.when(
        (pub == "emon") & has_payload & leaf.isin(*EMON_SUBJECTS),
        F.filter(
            F.transform(
                F.map_entries(F.col("kv")),
                lambda e: _rec(e["key"], e["value"], infer_type_tag(e["value"])),
            ),
            lambda r: r["measurement_of"] != F.lit("time"),
        ),
    )

    arrays = [glow_arr, homie_arr, emon_arr]
    if dynamic_fallback:
        from eventhub_to_timescale_spark.ingest.dynamic import leaves_col

        leaves = leaves_col(
            F.col("payload"), dynamic_max_depth, tuple(dynamic_ignore_keys)
        )
        arrays.append(
            F.when(
                ~pub.isin(*KNOWN_PUBLISHERS) & has_payload,
                F.transform(
                    leaves,
                    lambda node: _rec(
                        node["k"], node["js"], infer_type_tag(node["js"])
                    ),
                ),
            )
        )

    empty = F.array().cast(_REC_TYPE)
    records = F.filter(
        F.concat(*[F.coalesce(a, empty) for a in arrays]),
        lambda r: r["measurement_value"].isNotNull(),
    )

    # null-timestamp messages are dropped AT the explode (a null array
    # explodes to no rows): a Filter on the timestamp would be pushed
    # below the Project with the alias inlined, re-parsing it
    return msgs.select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        "correlation_id",
        F.explode(F.when(F.col("timestamp").isNotNull(), records)).alias("rec"),
    ).select(
        "timestamp",
        "measurement_subject",
        "measurement_publisher",
        F.col("rec.measurement_of").alias("measurement_of"),
        F.col("rec.measurement_value").alias("measurement_value"),
        F.col("rec.measurement_data_type").alias("measurement_data_type"),
        "correlation_id",
    )


def route_to_records_union(envelope_df: DataFrame) -> DataFrame:
    """The union of the single-publisher routes (one source scan each):
    the differential baseline showing that one pass over mixed traffic
    equals the per-publisher passes, so no guard leaks across them."""
    branches = [
        route_to_records(publisher_is(envelope_df, p)) for p in KNOWN_PUBLISHERS
    ]
    return reduce(lambda a, b: a.unionByName(b), branches)


def unrouted(envelope_df: DataFrame) -> DataFrame:
    """Messages whose publisher no converter handles (reference raises
    ValueError, json_converter.py:160-163) — error channel. With
    ``route_to_records(dynamic_fallback=True)`` these messages are
    instead converted via the dynamic flatten; this channel then only
    matters for auditing what WOULD have been dropped."""
    # coalesce: a NULL publisher (no topic) makes ~isin(...) NULL and
    # the filter would silently drop the row from THIS channel too —
    # such rows belong to the corrupt channel, everything else with an
    # unknown publisher belongs here
    unknown = ~F.coalesce(
        F.lower(F.col("publisher")).isin(*KNOWN_PUBLISHERS), F.lit(False)
    )
    if "corrupt" in envelope_df.columns:
        unknown = unknown & ~F.col("corrupt")
    return envelope_df.filter(unknown)
