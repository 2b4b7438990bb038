from __future__ import annotations

import json

import pytest

from eventhub_to_timescale_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # default.parallelism=4: test inputs are tiny createDataFrame
    # frames, and a default slice count of one per core would schedule
    # many near-empty tasks per action across the suite's thousands of
    # actions (pure scheduling overhead)
    s = get_spark(
        app_name="tests",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "4"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def drain_stateful_stream(q, timeout: float = 300.0, settle: int = 3) -> None:
    """Wait for an ``availableNow`` streaming query to finish its work,
    then stop it.

    ``applyInPandasWithState`` queries never self-terminate under
    ``Trigger.AvailableNow``: with ``ProcessingTimeTimeout`` the
    stateful exec's shouldRunAnotherBatch is unconditionally true (a
    timer COULD always be due), so once input is exhausted the query
    loops zero-input "no new data but cleaning up state" batches
    forever — a bare ``q.awaitTermination(300)`` burns its full
    timeout churning empties (measured: 145+ empty batches / 303 s ×
    5 tests).  Instead: watch ``lastProgress`` until the query has
    entered that churn (no available data AND the last completed
    batch read zero rows) for ``settle`` consecutive seconds, then
    stop.  Every data-carrying batch has committed by then — the
    zero-input batch observed can only run after all input batches
    finished — so output-completeness is unchanged; the only thing
    skipped is the 24 h-out timer eviction these tests never reach.
    """
    import time as _t

    deadline = _t.time() + timeout
    idle = 0
    while _t.time() < deadline:
        if not q.isActive:
            return
        st, lp = q.status, q.lastProgress
        churning = (
            lp is not None
            and lp["numInputRows"] == 0
            and not st["isDataAvailable"]
        )
        idle = idle + 1 if churning else 0
        if idle >= settle:
            break
        _t.sleep(1.0)
    q.stop()
    q.awaitTermination(60)


def make_envelope(topic: str, payload, timestamp: str | None = None, qos: int = 0):
    """Build a raw event-hub message string the way publishers do:
    envelope JSON whose ``payload`` is itself a JSON-encoded string
    (double-encoded — reference test_utils/get_test_data.py re-wraps
    payloads the same way)."""
    body = {
        "topic": topic,
        "payload": payload if isinstance(payload, str) else json.dumps(payload),
        "qos": qos,
        "retain": 0,
    }
    if timestamp is not None:
        body["timestamp"] = timestamp
    return json.dumps(body)


@pytest.fixture()
def envelopes(spark):
    """Parsed-envelope DataFrame factory for converter tests."""
    from eventhub_to_timescale_spark.ingest.envelope import parse_envelope

    def _make(raw_messages: list[str]):
        df = spark.createDataFrame([(m,) for m in raw_messages], "value string")
        return parse_envelope(df, deterministic_ids=True)

    return _make
