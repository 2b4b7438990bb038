"""Glow/Hildebrand smart-meter rules (reference glow.py:70-91).

``ingest.router`` applies them; ``glow_to_records`` is that router
over glow's own messages.

Semantics reproduced:
- publisher must be ``glow`` (case-insensitive).
- subject = last topic segment, kept only for ``GLOW_SUBJECTS``
  (glow.py allowlist).
- payload is double-encoded JSON → second ``from_json`` with the
  *declared* ``GLOW_PAYLOAD_SCHEMA`` (SURVEY §1.3: per-publisher
  declared payload structs replace the reference's fully-dynamic
  recursive flatten — Glow payload shapes are stable).
- record timestamp comes from ``payload[subject].timestamp``
  (glow.py:17), NOT the envelope; a payload lacking its topic's
  subject key has none, so the message yields no records (reference
  returns [] there, glow.py:30-31).
- fan-out (``glow_fields``): ``energy.import.*`` flattened with prefix
  ``import`` (the nested ``price`` dict recurses to the same prefix
  level — timeseries.py:88-92), plus ``power.*`` with prefix
  ``power`` for electricitymeter only (glow.py:44-55).
- ignore keys (glow.py get_ignore_keys): units, mpan, mprn, supplier,
  dayweekmonthvolunits, cumulativevolunits — expressed by simply not
  declaring those fields.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventhub_to_timescale_spark.ingest.envelope import publisher_is
from eventhub_to_timescale_spark.schema import TYPE_NUMBER

GLOW_SUBJECTS = ("electricitymeter", "gasmeter")

# One uniform meter struct for both subjects (gasmeter simply has no
# power data → nulls). Ignored keys are not declared at all.
_METER_STRUCT = T.StructType(
    [
        T.StructField("timestamp", T.StringType()),
        T.StructField(
            "energy",
            T.StructType(
                [
                    T.StructField(
                        "import",
                        T.StructType(
                            [
                                T.StructField("cumulative", T.DoubleType()),
                                T.StructField("day", T.DoubleType()),
                                T.StructField("week", T.DoubleType()),
                                T.StructField("month", T.DoubleType()),
                                # gas meters also publish volume leaves
                                # — NOT ignore-keys, they fan out
                                # (reference golden glow_gasmeter: 10
                                # records incl. import_*vol)
                                T.StructField("cumulativevol", T.DoubleType()),
                                T.StructField("dayvol", T.DoubleType()),
                                T.StructField("weekvol", T.DoubleType()),
                                T.StructField("monthvol", T.DoubleType()),
                                T.StructField(
                                    "price",
                                    T.StructType(
                                        [
                                            T.StructField("unitrate", T.DoubleType()),
                                            T.StructField(
                                                "standingcharge", T.DoubleType()
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "power",
            T.StructType([T.StructField("value", T.DoubleType())]),
        ),
    ]
)

GLOW_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("electricitymeter", _METER_STRUCT),
        T.StructField("gasmeter", _METER_STRUCT),
    ]
)


def glow_fields(meter, subject):
    """The glow fan-out as (measurement_of, value, type_tag) tuples over
    a ``meter`` struct column, in record order."""
    imp = meter["energy"]["import"]
    return [
        ("import_cumulative", imp["cumulative"], TYPE_NUMBER),
        ("import_day", imp["day"], TYPE_NUMBER),
        ("import_week", imp["week"], TYPE_NUMBER),
        ("import_month", imp["month"], TYPE_NUMBER),
        ("import_cumulativevol", imp["cumulativevol"], TYPE_NUMBER),
        ("import_dayvol", imp["dayvol"], TYPE_NUMBER),
        ("import_weekvol", imp["weekvol"], TYPE_NUMBER),
        ("import_monthvol", imp["monthvol"], TYPE_NUMBER),
        ("import_unitrate", imp["price"]["unitrate"], TYPE_NUMBER),
        ("import_standingcharge", imp["price"]["standingcharge"], TYPE_NUMBER),
        # power_* applies to electricitymeter only (glow.py:44-55)
        (
            "power_value",
            F.when(subject == "electricitymeter", meter["power"]["value"]),
            TYPE_NUMBER,
        ),
    ]


def glow_to_records(envelope_df: DataFrame) -> DataFrame:
    """Envelope rows → atomic records for the glow publisher."""
    from eventhub_to_timescale_spark.ingest.router import route_to_records

    return route_to_records(publisher_is(envelope_df, "glow"))
