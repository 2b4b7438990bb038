"""Plan-shape pins for the ingest DAG (``stream_to_conditions``): each
per-message and per-record expression is evaluated by exactly one
operator of the optimized plan.

Two regressions these catch, both of which leave the output unchanged
and only cost CPU:

- the record timestamp parse (epoch ``RLIKE`` / ``try_cast`` /
  ``to_timestamp``) sitting in an operator above the record
  ``Generate``, where it runs once per exploded record instead of once
  per message;
- the pivot's validity filter re-running the typed casts its
  projection computes (a Filter over a Project is pushed below it with
  every alias inlined).
"""

from __future__ import annotations

import re

import pytest

from tests.test_router_single_pass import MESSAGES

# parse_timestamp_any's epoch test as an RLIKE prints in a plan
EPOCH_RLIKE = r", ^-?\d+(\.\d+)?([eE][+-]?\d+)?$)"
# the value is an attribute, or a field of the exploded record struct
NUMBER_CAST = re.compile(r"cast\((\w+#\d+\.)?measurement_value(#\d+)? as double\)")


def _nodes(plan):
    """(node, ancestors) for every operator of a logical plan, root
    first."""
    out, stack = [], [(plan, ())]
    while stack:
        node, up = stack.pop()
        out.append((node, up))
        kids = node.children()
        for i in range(kids.size()):
            stack.append((kids.apply(i), up + (node,)))
    return out


def _exprs(node) -> str:
    es = node.expressions()
    return " ".join(es.apply(i).toString() for i in range(es.size()))


@pytest.fixture()
def plan(spark):
    from eventhub_to_timescale_spark.streaming.pipeline import stream_to_conditions

    raw = spark.createDataFrame([(m,) for m in MESSAGES], "value string")
    return stream_to_conditions(raw)._jdf.queryExecution().optimizedPlan()


def test_timestamp_parse_runs_below_the_record_generate(plan):
    nodes = _nodes(plan)
    # the record explode: its elements are (of, value, type) records
    record_gen = [
        (n, up)
        for n, up in nodes
        if n.nodeName() == "Generate"
        and n.generator().prettyName() == "explode"
        and "measurement_value:" in n.generator().elementSchema().simpleString()
    ]
    assert len(record_gen) == 1, [n.nodeName() for n, _ in nodes]
    gen, above = record_gen[0]
    # the parse is below the record Generate (the pin is not vacuous) ...
    assert any(EPOCH_RLIKE in _exprs(n) for n, _ in _nodes(gen)[1:]), plan.toString()
    # ... and in no operator above it
    assert not [n.nodeName() for n in above if EPOCH_RLIKE in _exprs(n)]


def test_pivot_number_cast_is_evaluated_once(plan):
    casting = [n.nodeName() for n, _ in _nodes(plan) if NUMBER_CAST.search(_exprs(n))]
    assert len(casting) == 1, casting
    assert casting != ["Filter"], casting
