"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from probes import batch_rows  # noqa: E402
from oracle import rows_match  # noqa: E402
from stats import percentile, samples_beyond, spread, tail_percentile  # noqa: E402
from trace import Span, Tracer, self_times  # noqa: E402


# -- tail percentile --------------------------------------------------------


@pytest.mark.parametrize("n, want", [(20, 50.0), (30, 200 / 3), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == pytest.approx(want)
    assert samples_beyond(n, tail_percentile(n)) == 10


def test_tail_percentile_needs_twenty_samples():
    with pytest.raises(ValueError):
        tail_percentile(19)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(list(range(41)), 75) == 30


def test_spread_matches_statistics_quantiles():
    s = spread([10.0, 11.0, 12.0, 13.0, 14.0])
    assert s["median"] == 12.0
    assert s["iqr_share"] == pytest.approx((s["q3"] - s["q1"]) / 12.0)


# -- span self time ---------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", "op", None, 0.0, 10.0),
        Span(1, "a", "op", 0, 1.0, 4.0),
        Span(2, "b", "op", 0, 3.0, 6.0),  # overlaps a by 1
        Span(3, "c", "op", 2, 3.5, 4.5),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0)
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(1.0)


def test_tracer_nests_and_sums_by_name():
    t = Tracer()
    with t.span("outer", "op1"):
        with t.span("inner", "op1"):
            pass
        with t.span("inner", "op1"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    by_name = t.self_time_by_name()
    total = t.spans[0].end - t.spans[0].start
    assert by_name["outer"] + by_name["inner"] == pytest.approx(total)


# -- generator determinism ---------------------------------------------------


def test_events_deterministic_for_seed():
    a = gen.make_events(7, 2000, 50)
    b = gen.make_events(7, 2000, 50)
    c = gen.make_events(8, 2000, 50)
    assert a.equals(b)
    assert not a.equals(c)
    ts = a.column("ts").to_pylist()
    assert ts == sorted(ts)


def test_events_subjects_are_zipf_skewed():
    users = gen.make_events(3, 20000, 100).column("user_id").to_pylist()
    top = users.count(0)
    assert top > 5 * users.count(50)


def test_panel_deck_deterministic_and_balanced():
    a = gen.panel_deck(5, 100, 3 * len(gen.DECK))
    assert a == gen.panel_deck(5, 100, 3 * len(gen.DECK))
    assert a != gen.panel_deck(6, 100, 3 * len(gen.DECK))
    for cycle in range(3):
        cyc = a[cycle * len(gen.DECK) : (cycle + 1) * len(gen.DECK)]
        assert sorted((p.kind, (p.end - p.start).days) for p in cyc) == sorted(gen.DECK)
    for p in a:
        assert (p.subject is None) == (p.kind in gen.ALL_KINDS)
        assert gen.EPOCH0 <= p.start < p.end <= gen.EPOCH0 + gen.timedelta(days=gen.DAYS)
        assert (p.end - p.start).total_seconds() % 86400 == 0


def test_envelopes_route_by_event_id():
    ts = datetime(2024, 1, 2, 3, 4, 5, 678901)
    glow = json.loads(gen.envelope(0, ts, 7, "click", 12.31, 69.0))
    assert glow["topic"] == "glow/electricitymeter"
    assert glow["timestamp"] == "2024-01-02T03:04:05.678901Z"
    meter = json.loads(glow["payload"])["electricitymeter"]
    assert meter["energy"]["import"]["cumulative"] == 12.31 and meter["power"]["value"] == 12.31
    homie = json.loads(gen.envelope(1, ts, 7, "error", 12.31, 69.0))
    assert (homie["topic"], homie["payload"]) == ("homie/device3/state", "error")
    homie = json.loads(gen.envelope(4, ts, 6, "click", 12.31, 69.0))
    assert (homie["topic"], homie["payload"]) == ("homie/device2/measure-temperature", "12.31")
    emon = json.loads(json.loads(gen.envelope(2, ts, 7, "view", 12.31, 69.0))["payload"])
    assert emon == {"time": "1704164645", "P1": "12.31", "vrms": "69.0", "label": "view"}


def test_envelopes_are_written_as_json_dumps_writes_them():
    ts = datetime(2024, 1, 2, 3, 4, 5, 678901)
    for event_id, event_type in ((0, "click"), (3, "view"), (1, "error"), (4, "click"), (2, "view")):
        msg = gen.envelope(event_id, ts, 7, event_type, 12.31, 69.0)
        assert json.dumps(json.loads(msg)) == msg
        payload = json.loads(msg)["payload"]
        if payload.startswith("{"):
            assert json.dumps(json.loads(payload)) == payload


def test_envelopes_by_slice_keeps_time_order():
    events = gen.make_events(1, 3000, 20)
    slices = gen.envelopes_by_slice(events, 10)
    assert sum(map(len, slices)) == 3000
    stamps = [json.loads(m)["timestamp"] for s in slices for m in s]
    assert stamps == sorted(stamps)
    rows = events.to_pylist()
    assert [m for s in slices for m in s] == [
        gen.envelope(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"], float(json.loads(r["props"])["k"]))
        for r in rows
    ]


# -- panel result comparison -------------------------------------------------


def test_rows_match_ignores_order_and_float_noise():
    t = datetime(2024, 1, 1, 6)
    got = [(t.replace(tzinfo=timezone.utc), 1.0000000001), (t.replace(hour=7, tzinfo=timezone.utc), None)]
    assert rows_match(got, [(t.replace(hour=7), None), (t, 1.0)])
    assert not rows_match(got, [(t, 1.0)])
    assert not rows_match(got, [(t, 1.01), (t.replace(hour=7), None)])


# -- streaming progress ------------------------------------------------------


def test_batch_rows_orders_and_drops_empty_batches():
    progress = [
        {"batchId": 2, "numInputRows": 5, "timestamp": "2026-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 500, "addBatch": 400}},
        {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:01.500Z",
         "durationMs": {"triggerExecution": 10}},
        {"batchId": 0, "numInputRows": 3, "timestamp": "2026-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 1250}},
    ]
    rows = batch_rows(progress)
    assert [r["batch"] for r in rows] == [0, 2]
    assert rows[0]["end_ms"] - rows[0]["start_ms"] == 1250
    assert rows[1]["start_ms"] - rows[0]["start_ms"] == 2000
