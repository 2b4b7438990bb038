"""Seeded input generators for the benchmark.

Everything the engine receives is made here from ``--seed``: the
``events`` table (same schema as the engine's test data), the raw
envelope files the ingest workload drains, and the dashboard panel
deck.  The same seed gives the same inputs, byte for byte.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta
from json.encoder import encode_basestring_ascii as _quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EPOCH0 = datetime(2024, 1, 1)
DAYS = 30
_DAY_US = 86_400_000_000


def zipf_weights(n: int, s: float) -> np.ndarray:
    """Probabilities of ranks 1..n under a finite Zipf law."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def make_events(seed: int, n_events: int, n_users: int, zipf_s: float = 1.1) -> pa.Table:
    """``events`` rows (event_id, ts, user_id, event_type, value, props)
    spread over 30 days, time-ordered by event_id, with user ids drawn
    Zipf-skewed so a few devices dominate the traffic."""
    rng = np.random.default_rng(seed)
    ts_us = np.sort(rng.integers(0, DAYS * _DAY_US, n_events))
    user_id = rng.choice(n_users, size=n_events, p=zipf_weights(n_users, zipf_s))
    etype = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.lognormal(3.5, 1.0, n_events) + 0.01, 2)
    k = rng.integers(0, 100, n_events)
    base_us = int((EPOCH0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us + base_us, type=pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], type=pa.string()),
        }
    )


def write_events(table: pa.Table, directory: str) -> str:
    """Write ``events.parquet`` where ``sources.testdata.load_table``
    looks for it; returns the directory."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
    return directory


# ---------------------------------------------------------------------------
# Raw publisher envelopes
# ---------------------------------------------------------------------------

# Homie measurement per event type (the mapping ``sources.synth`` and
# its HOMIE_ORACLE use)
HOMIE_OF = {
    "click": "measure-temperature",
    "view": "heating-setpoint",
    "purchase": "thermostat-setpoint",
    "signup": "mode",
    "error": "state",
}


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def envelope(event_id: int, ts: datetime, user_id: int, event_type: str, value: float, k: float) -> str:
    """One event rendered as the wire message of its publisher
    (event_id % 3: glow, homie, emon), in the format of
    ``sources.synth``'s builders, so the synth oracles give the
    conditions rows the ingest path must store."""
    epoch_s = int((ts - datetime(1970, 1, 1)).total_seconds() // 1)
    return _render(event_id, _iso(ts), epoch_s, user_id, event_type, value, k)


def _render(event_id: int, stamp: str, epoch_s: int, user_id: int, event_type: str, value: float, k: float) -> str:
    # The JSON is written out by hand, byte for byte as json.dumps would
    # write it (a float as its repr, the payload escaped), because that
    # is faster: a run renders a few hundred thousand messages.
    pub = event_id % 3
    if pub == 0:
        subject = "electricitymeter" if event_id % 2 == 0 else "gasmeter"
        power = f', "power": {{"value": {value!r}, "units": "W"}}' if subject == "electricitymeter" else ""
        payload = (
            f'{{"{subject}": {{"timestamp": "{stamp}", "energy": {{"import": {{"cumulative": {value!r}, '
            f'"day": {k!r}, "price": {{"unitrate": 0.07, "standingcharge": 0.29}}, "units": "kWh"}}}}{power}}}}}'
        )
        topic, qos = f"glow/{subject}", 0
    elif pub == 1:
        m_of = HOMIE_OF[event_type]
        payload = event_type if m_of in ("state", "mode") else repr(value)
        topic, qos = f"homie/device{user_id % 4}/{m_of}", 1
    else:
        payload = f'{{"time": "{epoch_s}", "P1": "{value!r}", "vrms": "{k!r}", "label": "{event_type}"}}'
        topic, qos = "emon/emonTx4", 0
    return f'{{"topic": "{topic}", "payload": {_quote(payload)}, "qos": {qos}, "retain": 0, "timestamp": "{stamp}"}}'


def envelopes_by_slice(events: pa.Table, n_slices: int) -> list[list[str]]:
    """Envelope strings of ``events`` grouped into contiguous, equal
    event-time slices, in event order within a slice.  Event Hub
    partitions deliver in time order, so each backlog file holds one
    slice rather than a hash-scattered sample that would touch every
    date partition."""
    out: list[list[str]] = [[] for _ in range(n_slices)]
    base_us = int((EPOCH0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts_us = events.column("ts").cast(pa.int64()).to_numpy()
    slices = np.minimum((ts_us - base_us) // (DAYS * _DAY_US // n_slices), n_slices - 1).tolist()
    # the ISO stamps and epoch seconds of every event at once: this loop
    # renders a few hundred thousand messages per run
    stamps = np.char.add(np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="us"), "Z").tolist()
    epoch_s = (ts_us // 1_000_000).tolist()
    cols = events.select(["event_id", "user_id", "event_type", "value", "props"]).to_pydict()
    ks = [float(p[6:-1]) for p in cols["props"]]  # props is '{"k": N}'
    for s, eid, stamp, sec, uid, et, v, k in zip(
        slices, cols["event_id"], stamps, epoch_s, cols["user_id"], cols["event_type"], cols["value"], ks
    ):
        out[s].append(_render(eid, stamp, sec, uid, et, v, k))
    return out


# Messages no converter can use: the dead-letter and unrouted channels
# must see them, and the store must not.
def corrupt_messages(rng: np.random.Generator, n: int) -> list[str]:
    return [f'{{"topic": "glow/electricitymeter", "payload": "{{\\"x\\": {int(rng.integers(1000))}' for _ in range(n)]


def unrouted_messages(rng: np.random.Generator, n: int) -> list[str]:
    return [
        json.dumps(
            {
                "topic": f"zigbee/plug{int(rng.integers(8))}",
                "payload": json.dumps({"power": float(rng.integers(1000))}),
                "qos": 0,
                "retain": 0,
                "timestamp": "2024-01-01T00:00:00.000000Z",
            }
        )
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# Dashboard panel deck
# ---------------------------------------------------------------------------

SINGLE_KINDS = ("q1", "q2", "q3", "q4", "q5", "q6")
ALL_KINDS = ("q7", "q8", "q9")
# One deck cycle of (kind, window days): every single-subject kind over
# one day and over the whole month, every all-subject kind over a week.
# Only the order, subjects and window starts are drawn from the seed,
# so the cost mix of a run does not move with the seed.
DECK = tuple((k, d) for k in SINGLE_KINDS for d in (1, DAYS)) + tuple((k, 7) for k in ALL_KINDS)


@dataclass(frozen=True)
class Panel:
    kind: str
    subject: str | None
    start: datetime
    end: datetime


def _window(rng: np.random.Generator, days: int) -> tuple[datetime, datetime]:
    first = int(rng.integers(0, DAYS - days + 1))
    start = EPOCH0 + timedelta(days=first)
    return start, start + timedelta(days=days)


def panel_deck(seed: int, n_users: int, n_panels: int, zipf_s: float = 1.1) -> list[Panel]:
    """``n_panels`` panels: deck cycles shuffled by the seed, subjects
    drawn with the same Zipf skew as the traffic (popular devices are
    viewed more), windows whole days so every bucket width is a whole
    number of seconds."""
    rng = np.random.default_rng(seed + 7919)
    p = zipf_weights(n_users, zipf_s)
    panels: list[Panel] = []
    while len(panels) < n_panels:
        for i in rng.permutation(len(DECK)):
            kind, days = DECK[i]
            start, end = _window(rng, days)
            subject = None if kind in ALL_KINDS else f"user_{int(rng.choice(n_users, p=p))}"
            panels.append(Panel(kind, subject, start, end))
    return panels[:n_panels]
