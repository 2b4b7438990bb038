"""Plan-shape pins for the dashboard panels (Q1–Q9 as
``perfbench/dashboard_mix.py`` builds them), over a store written by
``write_conditions_parquet``:

- every panel's scan prunes ``date`` partitions to the days its window
  touches, and returns exactly the rows of the same call over the
  unpruned store (the window ends are inclusive, so a row at exactly
  midnight ``end`` is read from ``end``'s day directory);
- no panel orders its result through a range exchange (and its
  bounds-sampling job); Q2's ordered limit stays a top-k, and Q9
  sorts once above its windows.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

import pytest

from eventhub_to_timescale_spark.operators import asap, timeseries, timeweight
from eventhub_to_timescale_spark.schema import CONDITIONS_SCHEMA

FIRST_DAY = datetime(2024, 1, 1)
N_DAYS = 10
START = datetime(2024, 1, 4)
ONE_US = timedelta(microseconds=1)

# kind -> panel over (store, start, end), with the dashboard's arguments
PANELS = {
    "q1": lambda st, a, e: timeseries.aggregated_by_interval(
        st, "s1", "value", a, e, int((e - a).total_seconds()) // 120
    ),
    "q2": lambda st, a, e: timeseries.aggregated_data(st, "s1", "value", a, e, 200),
    "q3": lambda st, a, e: timeseries.aggregated_by_day(st, "s1", "value", a, e),
    "q4": lambda st, a, e: timeseries.most_frequent_value(st, "s1", "event_type", a, e),
    "q5": lambda st, a, e: timeweight.time_weighted_average(
        st, "s1", "value", a, e, "locf", 360
    ),
    "q6": lambda st, a, e: asap.moving_average_smooth(
        st, "s1", "value", a, e, resolution=360, window_k=2
    ),
    "q7": lambda st, a, e: timeseries.unique_subjects(st, "event_type", a, e),
    "q8": lambda st, a, e: timeseries.changed_rows(st, None, "event_type", a, e),
    "q9": lambda st, a, e: timeseries.state_intervals(
        st, None, "event_type", a, e, close_at=e
    ),
}
# the other final orderings of the Q6/Q8/Q9 family
VARIANTS = {
    "q6_asap": lambda st, a, e: asap.asap_smooth(st, "s1", "value", a, e),
    "q6_lttb": lambda st, a, e: asap.lttb_downsample(
        st, "s1", "value", a, e, resolution=8
    ),
    "q8_salted": lambda st, a, e: timeseries.changed_rows_salted(
        st, None, "event_type", a, e, chunk_seconds=6 * 3600
    ),
    "q9_salted": lambda st, a, e: timeseries.state_intervals_salted(
        st, None, "event_type", a, e, close_at=e, chunk_seconds=6 * 3600
    ),
}


def _rows():
    """Two subjects, a ``value`` and an ``event_type`` record every
    3 hours of ``N_DAYS`` days, plus records 1 us either side of the
    1-day and 3-day windows from ``START``.  Numbers are whole, so an
    average does not depend on the order it is summed in."""
    stamps = [FIRST_DAY + timedelta(hours=3 * i) for i in range(8 * N_DAYS)]
    stamps += [START - ONE_US] + [START + timedelta(days=d) + ONE_US for d in (1, 3)]
    out = []
    for i, ts in enumerate(sorted(stamps)):
        for k, subject in enumerate(("s1", "s2")):
            uid = 4 * i + 2 * k
            state = None if i % 11 == 5 else "abc"[(i // 2 + k) % 3]
            out.append((ts, subject, "p", "value", float(i), None, None, None, "c", uid))
            out.append((ts, subject, "p", "event_type", None, state, None, None, "c", uid + 1))
    return out


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    from eventhub_to_timescale_spark.sinks.conditions import write_conditions_parquet

    mem = spark.createDataFrame(_rows(), CONDITIONS_SCHEMA)
    path = str(tmp_path_factory.mktemp("panel_store") / "conditions")
    write_conditions_parquet(mem, path)
    return mem, spark.read.parquet(path)


def _partition_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"PartitionFilters: \[[^\]]*\]", plan)


@pytest.mark.parametrize("days", [1, 3])
def test_slice_keeps_both_midnight_ends_and_prunes(frames, days):
    mem, store = frames
    end = START + timedelta(days=days)
    sliced = timeseries.time_slice(store, "s1", "value", START, end)
    got = sorted(r.timestamp for r in sliced.collect())
    want = sorted(r[0] for r in _rows() if r[1] == "s1" and r[3] == "value" and START <= r[0] <= end)
    assert got == want
    assert got[0] == START and got[-1] == end
    filters = _partition_filters(sliced)
    assert filters and all("date" in f for f in filters), filters
    # a frame without the store's date column keeps the plain slice
    assert "date" not in timeseries.time_slice(mem, "s1", "value", START, end).columns


@pytest.mark.parametrize("days", [1, 3])
@pytest.mark.parametrize("kind", sorted(PANELS))
def test_panel_prunes_dates_and_matches_unpruned_store(frames, kind, days):
    _, store = frames
    end = START + timedelta(days=days)
    df = PANELS[kind](store, START, end)
    got = df.collect()
    filters = _partition_filters(df)
    assert filters and all("date" in f for f in filters), filters
    unpruned = PANELS[kind](store.drop("date"), START, end)
    assert all("date" not in f for f in _partition_filters(unpruned))
    assert got == unpruned.collect()
    assert got


def test_panels_over_in_memory_frame_match_store(frames):
    mem, store = frames
    end = START + timedelta(days=1)
    for kind, panel in PANELS.items():
        assert panel(mem, START, end).collect() == panel(store, START, end).collect(), kind


def _initial_plan(df):
    """The physical plan AQE starts from (exchanges and sorts placed)."""
    return df._jdf.queryExecution().executedPlan().executedPlan()


@pytest.mark.parametrize("days", [1, 3])
@pytest.mark.parametrize("kind", sorted(PANELS) + sorted(VARIANTS))
def test_panel_order_has_no_range_exchange(frames, kind, days):
    _, store = frames
    panel = {**PANELS, **VARIANTS}[kind]
    plan = _initial_plan(panel(store, START, START + timedelta(days=days))).toString()
    assert "rangepartitioning" not in plan.lower(), plan


def test_q2_limit_stays_top_k(frames):
    _, store = frames
    plan = _initial_plan(PANELS["q2"](store, START, START + timedelta(days=1)))
    assert plan.nodeName() == "TakeOrderedAndProject", plan.toString()


def test_q9_sorts_once_above_its_windows(frames):
    """Q8's change rows feed Q9's windows unsorted: the only sort above
    the lag window is the final order."""
    _, store = frames
    node = _initial_plan(PANELS["q9"](store, START, START + timedelta(days=3)))
    chain = [node.nodeName()]
    while node.children().size() == 1:
        node = node.children().apply(0)
        chain.append(node.nodeName())
    above = chain[: len(chain) - chain[::-1].index("Window")]
    assert above.count("Sort") == 1, chain
