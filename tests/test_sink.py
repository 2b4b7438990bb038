"""Long→wide conditions pivot tests (reference test_timescale.py
coverage model: typed-column routing + value coercion)."""

from __future__ import annotations

import re
from datetime import datetime

from eventhub_to_timescale_spark.sinks.conditions import (
    conditions_rejects,
    records_to_conditions,
)

TS = datetime(2024, 2, 1, 12)


def _recs(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, measurement_subject string, "
        "measurement_publisher string, measurement_of string, "
        "measurement_value string, measurement_data_type string, "
        "correlation_id string",
    )


def test_typed_column_routing(spark):
    df = _recs(
        spark,
        [
            (TS, "s", "p", "n", "1.5", "number", "c"),
            (TS, "s", "p", "st", "hello", "string", "c"),
            (TS, "s", "p", "b", "TRUE", "boolean", "c"),
            (TS, "s", "p", "g", "[51.5, -0.125]", "geography", "c"),
        ],
    )
    rows = {
        r.measurement_of: r
        for r in records_to_conditions(df, with_unique_id=False).collect()
    }
    assert rows["n"].measurement_number == 1.5
    assert rows["n"].measurement_string is None
    assert rows["st"].measurement_string == "hello"
    assert rows["b"].measurement_bool is True
    # WKT lon-first (reference timescale.py:270)
    assert rows["g"].measurement_location == "SRID=4326;POINT(-0.125 51.5)"


def test_geography_accepts_bare_latlon_string(spark):
    # reference parse_to_geopoint accepts "lat,lon" strings too
    df = _recs(spark, [(TS, "s", "p", "g", "51.5,-0.125", "geography", "c")])
    row = records_to_conditions(df, with_unique_id=False).collect()[0]
    assert row.measurement_location == "SRID=4326;POINT(-0.125 51.5)"


def test_geography_parsed_once_per_value(spark):
    # the cleaned coordinate text is bound once, not re-derived for
    # every range check and format argument; the binding keeps the
    # pivot's Generate in whole-stage codegen (a lambda binding would
    # run it interpreted for every record, geography or not)
    df = _recs(spark, [(TS, "s", "p", "g", "[51.5, -0.125]", "geography", "c")])
    out = records_to_conditions(df, with_unique_id=False)
    qe = out._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("regexp_replace(") == 1
    assert re.search(r"\*\(\d+\) Generate explode", qe.executedPlan().toString())
    assert out.collect()[0].measurement_location == "SRID=4326;POINT(-0.125 51.5)"


def test_bad_values_go_to_reject_channel(spark):
    df = _recs(
        spark,
        [
            (TS, "s", "p", "ok", "2.0", "number", "c1"),
            (TS, "s", "p", "bad_num", "not-a-number", "number", "c2"),
            (TS, "s", "p", "bad_bool", "maybe", "boolean", "c3"),
            (TS, "s", "p", "bad_geo", "[99.0, 500.0]", "geography", "c4"),
        ],
    )
    assert records_to_conditions(df).count() == 1
    rejects = {r.measurement_of for r in conditions_rejects(df).collect()}
    assert rejects == {"bad_num", "bad_bool", "bad_geo"}


def test_unique_id_present_and_unique(spark):
    df = _recs(spark, [(TS, "s", "p", str(i), "1", "number", "c") for i in range(100)])
    out = records_to_conditions(df)
    ids = [r.measurement_unique_id for r in out.collect()]
    assert len(set(ids)) == 100
