"""emonTx4 energy-monitor rules (reference emon.py:14-48).

``ingest.router`` applies them; ``emon_to_records`` is that router
over emon's own messages.

Semantics reproduced:
- publisher must be ``emon``; subject = last topic segment, kept only
  for ``EMON_SUBJECTS``.
- payload is double-encoded *flat* JSON; record timestamp comes from
  its required ``time`` key (epoch seconds — emon.py extract_timestamp;
  missing/invalid → message dropped, the reference raises ValueError).
- every remaining key becomes one record, no prefix, ``time`` ignored.

This converter exercises the engine's **dynamic-payload path**: the
payload is parsed as ``map<string,string>`` and its ``map_entries``
become records with per-leaf type inference (``infer_type_tag``) —
the Spark-first equivalent of the reference's recursive flatten over
unknown keys (timeseries.py:43-98) for flat payloads. Glow takes the
declared-struct path; together they cover both SURVEY §1.3 strategies.

The map parse re-renders JSON numbers through double: large values
arrive as "1.7E9", numerically lossless, and both the epoch parser and
the type-inference regex accept the form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eventhub_to_timescale_spark.ingest.envelope import publisher_is

EMON_SUBJECTS = ("emonTx4",)


def emon_to_records(envelope_df: DataFrame) -> DataFrame:
    """Envelope rows → atomic records for the emon publisher."""
    from eventhub_to_timescale_spark.ingest.router import route_to_records

    return route_to_records(publisher_is(envelope_df, "emon"))
