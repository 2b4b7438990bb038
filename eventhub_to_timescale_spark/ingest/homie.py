"""Homie/Hubitat home-automation rules (reference homie.py:13-42).

``ingest.router`` applies them; ``homie_to_records`` is that router
over homie's own messages.

Semantics reproduced:
- publisher must be ``homie``; body must have ``payload`` AND
  ``timestamp`` (homie validates the extra key, homie.py:26).
- measurement_of = last topic segment, subject = second-to-last
  (homie.py:55-66); only of ∈ ``HOMIE_EVENTS_OF_INTEREST`` kept.
- value = the raw payload string, NOT JSON-decoded (homie.py:37).
- type: STRING for ``_STRING_MEASURES``, NUMBER otherwise
  (homie.py:69-77).
- record timestamp from the ENVELOPE timestamp (homie.py:33).
- exactly one record per message (no fan-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eventhub_to_timescale_spark.ingest.envelope import publisher_is

HOMIE_EVENTS_OF_INTEREST = (
    "measure-temperature",
    "heating-setpoint",
    "state",
    "mode",
    "thermostat-setpoint",
)

_STRING_MEASURES = ("state", "mode")


def homie_to_records(envelope_df: DataFrame) -> DataFrame:
    """Envelope rows → atomic records for the homie publisher."""
    from eventhub_to_timescale_spark.ingest.router import route_to_records

    return route_to_records(publisher_is(envelope_df, "homie"))


__all__ = ["homie_to_records", "HOMIE_EVENTS_OF_INTEREST"]
