"""The Tranquilizer's flush frame: one Arrow-built local relation per batch.

- ``events_frame`` must give the schema and rows ``spark.createDataFrame``
  gives for the same event dicts, over every value shape the HTTP daemon
  (JSON and Smile) or a library caller can hand to ``send``;
- a flush launches no Spark job beyond its sink's ``write_batch``;
- the events a flush acknowledges as sent are exactly the rows its sink
  commits, even for events on the window edges under a moving clock.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pytest

from tranquility_spark.operators.smile_codec import decode_stream, encode_stream
from tranquility_spark.specs import Count, DimensionsSpec, GranularitySpec, IngestSpec, TimestampSpec
from tranquility_spark.streaming import MessageDroppedException, SegmentSink, Tranquilizer
from tranquility_spark.streaming.arrow_frame import events_frame

UTC = dt.timezone.utc
D = decimal.Decimal
_DICT_AS_STRUCT = "spark.sql.pyspark.inferNestedDictAsStruct.enabled"


def _spec():
    return IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"),),
        granularity_spec=GranularitySpec("HOUR", "MINUTE", rollup=False),
    )


def _corpus() -> list[dict]:
    smile = list(decode_stream(encode_stream([
        {"big": 2**70, "dec": D("12345678901234567890.123456789012345678"), "page": "s1"},
        {"big": -(2**63), "dec": D("-0.0000000000000000015"), "page": "s2"},
        {"big": 2**63, "dec": D("0.0000000000000000005"), "page": "s3"},
    ])))
    assert isinstance(smile[0]["big"], int) and isinstance(smile[0]["dec"], D)
    return [
        {"page": "a", "n": 1, "x": 1.5, "ok": True, "tags": [1, 2],
         "attrs": {"k": {"deep": [1]}}, "note": "héllo ☃ 日本", "mixed": "text",
         "at": dt.datetime(2024, 6, 1, 12, 0, 0, 123456, tzinfo=UTC),
         "naive": dt.datetime(2024, 6, 1, 12, 0, 0, 7)},
        {"page": None, "n": None, "x": -0.0, "ok": False, "tags": [],
         "attrs": {"k": {}}, "note": "", "mixed": 7,
         "at": dt.datetime(2024, 6, 1, 14, 0, tzinfo=dt.timezone(dt.timedelta(hours=2))),
         "naive": None},
        {"page": "c", "mixed": True, "tags": [None, 3], "only_here": "x"},  # missing keys
        {"page": "d", "mixed": 12345678.0, "attrs": {"k": {"deep": [None]}}},
        {"page": "e", "mixed": 1e-05, "x": 1e300, "dec": D("NaN")},
        {},
        *smile,
    ]


@pytest.mark.parametrize("dict_as_struct", ["false", "true"])
def test_events_frame_matches_row_build(spark, dict_as_struct):
    # a non-UTC driver zone: naive datetimes are local time in both builds
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set(_DICT_AS_STRUCT, dict_as_struct)
    try:
        events = _corpus()
        if dict_as_struct == "true":  # a struct needs one key set per field
            for e in events:
                e.pop("attrs", None)
                if "at" in e:
                    e["attrs"] = {"when": e.get("naive"), "n": e.get("n"), "tags": e.get("tags")}
        want = spark.createDataFrame(events)
        got = events_frame(spark, events, "__i")
        assert got.columns == want.columns + ["__i"]
        assert [r["__i"] for r in got.collect()] == list(range(len(events)))
        got = got.drop("__i")
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        spark.conf.unset(_DICT_AS_STRUCT)
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_events_frame_decimal_overflow_is_loud(spark):
    # the row build fails the job on a value decimal(38,18) cannot hold
    with pytest.raises(decimal.InvalidOperation):
        events_frame(spark, [{"dec": D("123456789012345678901.5")}], "__i")


def _jobs(sc, group: str) -> int:
    # job ids reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class _GroupedSink:
    """A SegmentSink whose write_batch runs under its own job group."""

    def __init__(self, sink, sc, group: str, outer: str):
        self.sink, self.sc, self.group, self.outer = sink, sc, group, outer

    def max_batch_id(self):
        return self.sink.max_batch_id()

    def write_batch(self, df, batch_id):
        self.sc.setJobGroup(self.group, "sink write")
        try:
            return self.sink.write_batch(df, batch_id)
        finally:
            self.sc.setJobGroup(self.outer, "flush")


def test_flush_launches_only_the_sinks_jobs(spark, tmp_path):
    sc = spark.sparkContext
    now = dt.datetime(2024, 6, 1, 12, 0, tzinfo=UTC)
    sink = _GroupedSink(SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR"), sc,
                        "test-flush-sink", "test-flush")
    t = Tranquilizer(spark, _spec(), sink, window_period="PT10M", clock=lambda: now)
    futs = [t.send({"timestamp": f"2024-06-01T11:5{i}:00", "page": f"p{i}"}) for i in range(5)]
    futs.append(t.send({"timestamp": "2024-06-01T09:00:00", "page": "late"}))
    futs.append(t.send({"timestamp": "garbage", "page": "bad"}))
    sc.setJobGroup("test-flush", "flush")
    try:
        t.flush()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [f.exception() is None for f in futs] == [True] * 5 + [False, False]
    sink_jobs = _jobs(sc, "test-flush-sink")
    assert sink_jobs >= 1
    assert _jobs(sc, "test-flush") == 0, "the flush launched Spark jobs of its own"


def test_flush_sends_exactly_what_it_commits_on_window_edges(spark, tmp_path):
    base = dt.datetime(2024, 6, 1, 12, 0, 0, tzinfo=UTC)
    calls = []

    def clock():  # one second later on every call
        calls.append(None)
        return base + dt.timedelta(seconds=len(calls) - 1)

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    t = Tranquilizer(spark, _spec(), sink, window_period="PT10M", clock=clock)
    stamps = {
        "lower_edge": "2024-06-01T11:50:00",   # now - 10 min: kept
        "upper_edge": "2024-06-01T12:10:00",   # now + 10 min: kept
        "centre": "2024-06-01T12:00:00",
        "below": "2024-06-01T11:49:59",        # 1 s outside, either side
        "above": "2024-06-01T12:10:01",
        "unparseable": "12:00 noon",
    }
    futs = {page: t.send({"timestamp": ts, "page": page}) for page, ts in stamps.items()}
    t.flush()

    sent = {p for p, f in futs.items() if f.exception() is None}
    committed = {r["page"] for r in sink.read(spark, committed_only=True).collect()}
    assert sent == committed == {"lower_edge", "upper_edge", "centre"}
    for page in ("below", "above", "unparseable"):
        assert isinstance(futs[page].exception(), MessageDroppedException)
    assert "unparseable" in str(futs["unparseable"].exception())
    assert "windowPeriod" in str(futs["above"].exception())
    assert len(calls) == 1  # 'now' is resolved once per flush
