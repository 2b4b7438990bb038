"""Arbitrary-depth dynamic flatten (reference create_record_recursive,
timeseries.py:43-98, + recursively_deserialize, helpers.py:112-127).

The cross-check tier re-derives the reference's own glow golden
records through the DYNAMIC path — same subtree roots, prefixes and
ignore_keys the reference glow converter passes to
create_record_recursive (glow.py:31-56) — and compares against the
declared-struct converter output on identical input.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.ingest.dynamic import (
    dynamic_to_records,
    flatten_payload_dynamic,
)

REF = "/root/reference/test_utils/test_data.json"

# reference glow.get_ignore_keys()
GLOW_IGNORE = (
    "units",
    "mpan",
    "mprn",
    "supplier",
    "dayweekmonthvolunits",
    "cumulativevolunits",
)


def _flat(spark, payload: dict, **kw):
    df = spark.createDataFrame([(json.dumps(payload),)], "payload string")
    rows = flatten_payload_dynamic(df, "payload", **kw).collect()
    return {
        r.measurement_of: (r.measurement_value, r.measurement_data_type)
        for r in rows
    }


def test_depth3_leaves_types_and_ignores(spark):
    got = _flat(
        spark,
        {
            "meta": "ok",
            "outer": {
                "reading": 12.5,
                "flags": {"active": True, "mode": "eco"},
                "ignoreme": {"x": 1},
            },
            "packed": json.dumps({"inner": {"q": 7.25}}),
            "nil": None,
            "geo": [51.5, -0.125],
            "weird": [1, 2, 3],
        },
        ignore_keys=("ignoreme",),
    )
    assert got == {
        "meta": ("ok", "string"),
        "reading": ("12.5", "number"),
        "active": ("true", "boolean"),  # depth 3
        "mode": ("eco", "string"),  # depth 3
        "q": ("7.25", "number"),  # through a JSON-encoded string
        "geo": ("[51.5,-0.125]", "geography"),
        "weird": ("[1,2,3]", "string"),  # non-geo list → reject channel
        # "nil" dropped: JSON null leaf (reference raises; we drop)
    }


def test_scalar_strings_re_type_like_json_loads(spark):
    # recursively_deserialize: json.loads("1.5") → 1.5, "true" → True
    got = _flat(spark, {"a": "1.5", "b": "true", "c": "plain"})
    assert got == {
        "a": ("1.5", "number"),
        "b": ("true", "boolean"),
        "c": ("plain", "string"),
    }


def test_constant_prefix_not_path_accumulation(spark):
    # the reference prefixes with a CONSTANT, never the parent path:
    # both leaves keep prefix_leafkey even at different depths
    got = _flat(
        spark, {"a": {"deep": {"v": 1}}, "v": 2}, prefix="imp"
    )
    assert set(got) == {"imp_v"} or got == {"imp_v": ("1", "number")}
    # sibling subtrees sharing a leaf key collide — last/both present;
    # at minimum the naming is prefix_leaf for every leaf
    assert all(k == "imp_v" for k in got)


def test_max_depth_cutoff_drops_deeper_objects(spark):
    deep = {"l1": {"l2": {"l3": {"v": 1}}}, "top": 5}
    assert _flat(spark, deep, max_depth=2) == {"top": ("5", "number")}
    assert _flat(spark, deep, max_depth=4) == {
        "v": ("1", "number"),
        "top": ("5", "number"),
    }


def test_dynamic_to_records_envelope_path(spark):
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope

    body = json.dumps(
        {
            "topic": "dyn/nested",
            "payload": json.dumps({"a": {"b": 3.5}}),
            "qos": 0,
            "retain": 0,
            "timestamp": "2024-02-01T10:00:00.000000Z",
        }
    )
    # no envelope timestamp → no record timestamp → no rows
    untimed = json.dumps(
        {"topic": "dyn/untimed", "payload": json.dumps({"c": 1}), "qos": 0}
    )
    env = parse_envelope(
        spark.createDataFrame([(body,), (untimed,)], "value string")
    )
    rows = dynamic_to_records(env, "dyn").collect()
    assert [r.measurement_subject for r in rows] == ["nested"]
    r = rows[0]
    assert (r.measurement_of, r.measurement_value) == ("b", "3.5")
    assert r.measurement_subject == "nested"
    assert r.measurement_publisher == "dyn"
    assert r.timestamp.isoformat() == "2024-02-01T10:00:00"


@pytest.mark.skipif(not os.path.exists(REF), reason="reference absent")
@pytest.mark.parametrize("case", ["glow_electricitymeter", "glow_gasmeter"])
def test_glow_goldens_reproduced_via_dynamic_path(spark, case):
    """Feed the reference glow golden message through the dynamic
    flatten configured exactly like reference glow.py:31-56 (subtree
    roots energy.import / power, constant prefixes, ignore_keys) and
    match the declared-struct converter record-for-record."""
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope
    from eventhub_to_timescale_spark.ingest.glow import glow_to_records

    with open(REF) as f:
        body = json.load(f)[case]["properties"]["body"]
    env = parse_envelope(spark.createDataFrame([(body,)], "value string"))

    subj = F.element_at(F.split(F.col("topic"), "/"), -1)
    base = env.filter(F.col("payload").isNotNull()).select(
        subj.alias("subject"), F.col("payload")
    )
    sub = lambda tail: F.expr(  # noqa: E731
        f"get_json_object(payload, concat('$.', subject, '{tail}'))"
    )
    imports = flatten_payload_dynamic(
        base.withColumn("p", sub(".energy.import")).drop("payload"),
        "p",
        ignore_keys=GLOW_IGNORE,
        prefix="import",
    )
    power = flatten_payload_dynamic(
        base.filter(F.col("subject") == "electricitymeter")
        .withColumn("p", sub(".power"))
        .drop("payload"),
        "p",
        ignore_keys=GLOW_IGNORE,
        prefix="power",
    )
    dynamic = {
        (r.measurement_of, r.measurement_value, r.measurement_data_type)
        for r in imports.unionByName(power).collect()
    }
    declared = {
        (r.measurement_of, r.measurement_value, r.measurement_data_type)
        for r in glow_to_records(env).collect()
    }
    assert dynamic == declared and len(dynamic) > 0


def test_empty_string_keys_survive(spark):
    # "" is a legal JSON key; the root sentinel is NULL so these leaves
    # must NOT be confused with the root and dropped
    df = spark.createDataFrame(
        [(json.dumps({"": 42, "outer": {"": "x"}}),)], "payload string"
    )
    rows = flatten_payload_dynamic(df, "payload").collect()
    assert sorted(
        (r.measurement_of, r.measurement_value, r.measurement_data_type)
        for r in rows
    ) == [("", "42", "number"), ("", "x", "string")]
