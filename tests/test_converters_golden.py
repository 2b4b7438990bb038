"""Golden end-to-end conversion tests — same coverage model as the
reference's captured-message suite (test_utils/test_data.json +
test_glow.py/test_homie.py/test_emon.py): known input message → exact
expected atomic records, plus must-be-dropped inputs."""

from __future__ import annotations

from datetime import datetime

import pytest

from tests.conftest import make_envelope

GLOW_ELEC_PAYLOAD = {
    "electricitymeter": {
        "timestamp": "2024-02-01T10:00:00Z",
        "energy": {
            "import": {
                "cumulative": 6613.405,
                "day": 5.447,
                "week": 27.9,
                "month": 82.841,
                "units": "kWh",
                "mpan": "1200050000000",
                "supplier": "ACME",
                "price": {"unitrate": 0.07445, "standingcharge": 0.4458},
            }
        },
        "power": {"value": 0.229, "units": "kW"},
    }
}

GLOW_GAS_PAYLOAD = {
    # full gas shape from the reference golden glow_gasmeter: the four
    # *vol leaves fan out (10 records), the *volunits/mprn/supplier
    # keys are ignore-keys
    "gasmeter": {
        "timestamp": "2024-02-01T10:00:00Z",
        "energy": {
            "import": {
                "cumulative": 1234.5,
                "day": 2.0,
                "week": 43.1,
                "month": 3062.6,
                "units": "kWh",
                "cumulativevol": 1357.2,
                "cumulativevolunits": "m3",
                "dayvol": 43.1,
                "weekvol": 43.1,
                "monthvol": 3062.6,
                "dayweekmonthvolunits": "kWh",
                "mprn": "3057817410",
                "supplier": "---",
                "price": {"unitrate": 0.030, "standingcharge": 0.268},
            }
        },
    }
}


def _records(df):
    rows = df.collect()
    return {
        (r.measurement_of): (
            r.measurement_value,
            r.measurement_data_type,
            r.timestamp,
            r.measurement_subject,
            r.measurement_publisher,
        )
        for r in rows
    }


def test_glow_electricitymeter(envelopes):
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records

    env = envelopes(
        [make_envelope("glow/XXXXXX/SENSOR/electricitymeter", GLOW_ELEC_PAYLOAD)]
    )
    recs = _records(glow_to_records(env))
    ts = datetime(2024, 2, 1, 10)
    assert recs["import_cumulative"] == (
        "6613.405", "number", ts, "electricitymeter", "glow",
    )
    assert recs["power_value"][0] == "0.229"
    assert set(recs) == {
        "import_cumulative",
        "import_day",
        "import_week",
        "import_month",
        "import_unitrate",
        "import_standingcharge",
        "power_value",
    }
    # ignore-keys (units/mpan/supplier) must NOT appear
    assert "import_units" not in recs and "import_mpan" not in recs


def test_glow_gasmeter_full_record_set(envelopes):
    # reference golden glow_gasmeter: exactly these 10, no power_*
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records

    env = envelopes(
        [make_envelope("glow/XXXXXX/SENSOR/gasmeter", GLOW_GAS_PAYLOAD)]
    )
    recs = _records(glow_to_records(env))
    assert set(recs) == {
        "import_cumulative",
        "import_day",
        "import_week",
        "import_month",
        "import_cumulativevol",
        "import_dayvol",
        "import_weekvol",
        "import_monthvol",
        "import_unitrate",
        "import_standingcharge",
    }
    assert recs["import_cumulative"][0] == "1234.5"
    assert recs["import_cumulativevol"][0] == "1357.2"
    assert recs["import_cumulative"][3] == "gasmeter"


def test_glow_uninteresting_topic_dropped(envelopes):
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records

    env = envelopes(
        [make_envelope("glow/XXXXXX/STATE/other", GLOW_ELEC_PAYLOAD)]
    )
    assert glow_to_records(env).count() == 0


def test_glow_payload_missing_subject_key_dropped(envelopes):
    # a gasmeter topic whose payload carries only the electricitymeter
    # key has no meter timestamp (reference returns [], glow.py:30-31)
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records

    env = envelopes(
        [make_envelope("glow/XXXXXX/SENSOR/gasmeter", GLOW_ELEC_PAYLOAD)]
    )
    assert glow_to_records(env).count() == 0


@pytest.mark.parametrize(
    "measure,value,expected_type",
    [
        ("measure-temperature", "21.5", "number"),
        ("heating-setpoint", "20", "number"),
        ("state", "heating", "string"),
        ("mode", "auto", "string"),
        ("thermostat-setpoint", "19.5", "number"),
    ],
)
def test_homie_measures(envelopes, measure, value, expected_type):
    from eventhub_to_timescale_spark.ingest.homie import homie_to_records

    env = envelopes(
        [
            make_envelope(
                f"homie/livingroom/thermostat/{measure}",
                value,
                timestamp="2024-02-01T09:30:00Z",
            )
        ]
    )
    recs = _records(homie_to_records(env))
    assert recs[measure] == (
        value,
        expected_type,
        datetime(2024, 2, 1, 9, 30),
        "thermostat",
        "homie",
    )


def test_homie_heartbeat_dropped(envelopes):
    # reference golden case homie_heartbeat → expected null
    from eventhub_to_timescale_spark.ingest.homie import homie_to_records

    env = envelopes(
        [
            make_envelope(
                "homie/device/$stats/uptime", "3600", timestamp="2024-02-01T09:30:00Z"
            )
        ]
    )
    assert homie_to_records(env).count() == 0


def test_homie_missing_timestamp_dropped(envelopes):
    from eventhub_to_timescale_spark.ingest.homie import homie_to_records

    env = envelopes([make_envelope("homie/room/thermostat/state", "idle")])
    assert homie_to_records(env).count() == 0


def test_emon_flattens_all_but_time(envelopes):
    from eventhub_to_timescale_spark.ingest.emon import emon_to_records

    payload = {"time": 1706777400.25, "vrms": 243.58, "P1": 155, "T1": 19.2}
    env = envelopes([make_envelope("emon/emonTx4", payload)])
    recs = _records(emon_to_records(env))
    assert set(recs) == {"vrms", "P1", "T1"}
    ts = datetime(2024, 2, 1, 8, 50, 0, 250000)
    assert recs["vrms"] == ("243.58", "number", ts, "emonTx4", "emon")
    assert recs["P1"][1] == "number"


def test_emon_missing_time_dropped(envelopes):
    # reference emon.py extract_timestamp raises ValueError → we drop
    from eventhub_to_timescale_spark.ingest.emon import emon_to_records

    env = envelopes([make_envelope("emon/emonTx4", {"vrms": 240.0})])
    assert emon_to_records(env).count() == 0


def test_emon_other_topic_dropped(envelopes):
    from eventhub_to_timescale_spark.ingest.emon import emon_to_records

    env = envelopes(
        [make_envelope("emon/other", {"time": 1706777400, "vrms": 240.0})]
    )
    assert emon_to_records(env).count() == 0


def test_router_unions_and_flags_unknown(spark, envelopes):
    from eventhub_to_timescale_spark.ingest.router import route_to_records, unrouted

    env = envelopes(
        [
            make_envelope("glow/X/SENSOR/electricitymeter", GLOW_ELEC_PAYLOAD),
            make_envelope(
                "homie/room/thermostat/mode", "auto", timestamp="2024-02-01T09:30:00Z"
            ),
            make_envelope("emon/emonTx4", {"time": 1706777400, "P1": 100}),
            make_envelope("mystery/topic", {"x": 1}),
        ]
    )
    recs = route_to_records(env)
    by_pub = {
        r["measurement_publisher"]: r["n"]
        for r in recs.groupBy("measurement_publisher").count().withColumnRenamed("count", "n").collect()
    }
    assert by_pub == {"glow": 7, "homie": 1, "emon": 1}
    assert [r.publisher for r in unrouted(env).collect()] == ["mystery"]
