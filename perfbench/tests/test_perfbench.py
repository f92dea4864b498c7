"""The benchmark's own tests: generators, statistics, oracles and proxies.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Proxy,
    Tracer,
    children,
    self_time,
    sink_proxy,
    trace_tranquilizer,
)

NOW_MS = 1_792_000_000_000


def _files_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


# -- same seed, same bytes ----------------------------------------------------


@pytest.mark.parametrize("smile", [False, True])
def test_http_bodies_are_byte_identical_per_seed(smile):
    a = gen.render_body(gen.http_body(7, 3, 2, 500), NOW_MS, smile)
    b = gen.render_body(gen.http_body(7, 3, 2, 500), NOW_MS, smile)
    c = gen.render_body(gen.http_body(8, 3, 2, 500), NOW_MS, smile)
    assert a == b
    assert a != c


def test_stream_files_are_byte_identical_per_seed(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        gen.write_stream_files(gen.stream_events(seed, 4000, 8, 30), str(tmp_path / sub))
    a, b, c = (_files_bytes(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert a != c
    assert len(a) == 8


def test_catalog_tables_are_byte_identical_per_seed(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        gen.write_tables(gen.catalog_tables(seed, 0.001), str(tmp_path / sub))
    a, b, c = (_files_bytes(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert a != c
    assert sorted(a) == sorted(f"{t}.parquet" for t in (
        "region nation customer supplier part orders lineitem events documents "
        "embeddings").split())


# -- tail percentile ----------------------------------------------------------


def test_tail_leaves_at_least_ten_samples_beyond():
    values = list(range(1, 31))  # 30 samples
    value, pct, n = oracle.tail(values)
    assert (value, n) == (20, 30)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_independent_and_counts_ties_below():
    values = [5.0] * 15 + [1.0] * 10 + [9.0] * 5
    shuffled = list(np.random.default_rng(0).permutation(values))
    assert oracle.tail(values) == oracle.tail(shuffled)
    value, _pct, _n = oracle.tail(values)
    assert value == 5.0  # rank 20 of 30 falls among the tied fives
    assert sum(v > value for v in values) == 5


def test_tail_without_enough_samples_is_the_median():
    values = [3.0, 1.0, 2.0, 10.0, 4.0]
    assert oracle.tail(values) == (3.0, 50.0, 5)
    # 19 samples: rank 9 would sit below the median (rank 10)
    nineteen = list(range(19))
    assert oracle.tail(nineteen) == (oracle.median(nineteen), 50.0, 19)
    # 20 samples: rank 10 is the median and has exactly 10 above it
    assert oracle.tail(list(range(20))) == (9, 50.0, 20)


# -- HTTP oracle --------------------------------------------------------------


def test_http_expected_sent_counts_in_window_parseable_events():
    body = [
        {"timestamp": 0}, {"timestamp": -599_000}, {"timestamp": 600_000},
        {"timestamp": -600_001}, {"timestamp": 3_600_000}, {"timestamp": gen.UNPARSEABLE},
    ]
    assert gen.expected_sent(body) == 3


def test_http_body_mix_and_rendering_round_trip():
    from tranquility_spark.operators.smile_codec import decode_stream

    body = gen.http_body(1, 0, 0, 2000)
    kinds = pd.Series(
        ["bad" if e["timestamp"] == gen.UNPARSEABLE
         else "in" if abs(e["timestamp"]) <= gen.WINDOW_PERIOD_MS else "out" for e in body]
    ).value_counts(normalize=True)
    assert 0.03 < kinds["out"] < 0.07
    assert 0.002 < kinds["bad"] < 0.03
    # in-window offsets keep a margin for the wait before the flush
    assert all(-6 * 60_000 <= e["timestamp"] < 60_000 for e in body
               if e["timestamp"] != gen.UNPARSEABLE
               and abs(e["timestamp"]) <= gen.WINDOW_PERIOD_MS)
    as_json = json.loads(gen.render_body(body, NOW_MS, smile=False))
    (as_smile,) = list(decode_stream(gen.render_body(body, NOW_MS, smile=True)))
    assert as_json == as_smile
    first_ok = next(i for i, e in enumerate(body) if e["timestamp"] != gen.UNPARSEABLE)
    ts = pd.Timestamp(as_json[first_ok]["timestamp"])
    assert int(ts.value // 1_000_000) == NOW_MS + body[first_ok]["timestamp"]
    assert sum(e["timestamp"] == gen.UNPARSEABLE for e in as_json) == (kinds["bad"] * 2000).round()


# -- stream oracle ------------------------------------------------------------

H, M = oracle.HOUR_MS, oracle.MINUTE_MS


def _file(rows):
    return pd.DataFrame(rows, columns=["timestamp", "page", "country", "added", "deleted"])


def test_stream_oracle_on_a_tiny_input():
    t0 = 100 * H
    files = [
        _file([(t0 + 10 * M, "a", "US", 1, 0), (t0 + 20 * M, "a", "US", 2, 1)]),
        _file([(t0 + 40 * M, "b", "US", 3, 0), (t0 + 65 * M, "a", "US", 4, 0)]),
        # 3 h late: its window ended before the previous batch's watermark
        _file([(t0 + 70 * M, "a", "US", 5, 0), (t0 - 2 * H, "z", "US", 100, 0)]),
        # 3 min out of order, inside the watermark
        _file([(t0 + 131 * M, "a", "US", 6, 0), (t0 + 67 * M, "a", "US", 7, 0)]),
    ]
    got, stats = oracle.stream_rollup_oracle(files, 10 * M)
    assert stats["dropped_by_watermark"] == 1
    assert stats["kept_after_close"] == 0
    # final watermark: 131 - 10 = 121 min, which closes hours 0 and 1 only
    assert stats["final_watermark_ms"] == t0 + 121 * M
    want = pd.DataFrame(
        [
            (t0, t0 + 10 * M, "a", "US", 1, 1, 0),
            (t0, t0 + 20 * M, "a", "US", 1, 2, 1),
            (t0, t0 + 40 * M, "b", "US", 1, 3, 0),
            (t0 + H, t0 + 65 * M, "a", "US", 1, 4, 0),
            (t0 + H, t0 + 67 * M, "a", "US", 1, 7, 0),
            (t0 + H, t0 + 70 * M, "a", "US", 1, 5, 0),
        ],
        columns=["segment_start", "ts", "page", "country", "n", "added", "deleted"],
    )
    assert oracle.frames_equal(got, want, oracle.STREAM_KEYS) == []
    assert oracle.frames_equal(got.iloc[1:], want, oracle.STREAM_KEYS) != []


def test_stream_generator_drops_exactly_its_beyond_watermark_events():
    files = gen.stream_events(3, 60_000, 8, 70)
    frames = [f.to_pandas() for f in files]
    _out, stats = oracle.stream_rollup_oracle(frames, 10 * M)
    ts = pd.concat(frames)["timestamp"].to_numpy()
    behind = np.maximum.accumulate(ts) - ts
    assert stats["dropped_by_watermark"] == int((behind >= 170 * M).sum()) > 0
    assert stats["kept_after_close"] == 0
    assert 0.03 < float(((behind > 0) & (behind < 10 * M)).mean()) < 0.07
    with pytest.raises(ValueError):
        gen.stream_events(3, 1000, 4, 70)  # hour-long files would break the design


# -- proxies --------------------------------------------------------------------


class FakeBeam:
    """The SegmentSink surface the Tranquilizer uses, without Spark."""

    def __init__(self, root):
        self.root = str(root)
        self.batches = []

    def max_batch_id(self):
        return 41

    def write_batch(self, rows, batch_id):
        self.batches.append((batch_id, list(rows)))
        return len(rows)


def _tranquilizer(beam, max_batch_size):
    from tranquility_spark.streaming.tranquilizer import SendResult, Tranquilizer

    class SparklessTranquilizer(Tranquilizer):
        # the real send / flush / close control flow; only the Spark part
        # of the flush is replaced
        def _flush(self, events, futures):
            self._batch_id += 1
            self.beam.write_batch(events, self._batch_id)
            for f in futures:
                self.sent_count += 1
                f.set_result(SendResult(sent=True))

    return SparklessTranquilizer(None, None, beam, max_batch_size=max_batch_size)


def test_proxy_forwards_calls_and_attributes(tmp_path):
    beam = FakeBeam(tmp_path)
    calls = []

    def hook(method, *args):
        calls.append(args)
        return method(*args)

    p = Proxy(beam, {"write_batch": hook})
    assert p.max_batch_id() == 41
    assert p.write_batch([1, 2], 7) == 2
    assert calls == [([1, 2], 7)]
    assert p.root == beam.root
    assert not hasattr(p, "close")  # the Tranquilizer probes this
    p.extra = 3
    assert beam.extra == 3


def test_traced_tranquilizer_forwards_send_flush_close(tmp_path):
    beam = FakeBeam(tmp_path)
    t = _tranquilizer(beam, max_batch_size=3)
    assert t._batch_id == 41  # max_batch_id went to the beam
    tracer = Tracer()
    trace_tranquilizer(t, tracer, "ds")
    assert t.beam.max_batch_id() == 41  # through the proxy

    # the handler's pattern: send x N, then flush; N=4 auto-flushes at 3
    futures = [t.send({"i": i}) for i in range(4)]
    t.flush()
    assert all(f.result().sent for f in futures)
    t.send({"i": 4})
    t.close()
    assert [b[0] for b in beam.batches] == [42, 43, 44]
    assert t.sent_count == 5 and t.dropped_count == 0

    names = [s["name"] for s in tracer.spans]
    assert names.count("sink.write_batch") == 3
    calls = [s for s in tracer.spans if s["name"] == "tranquilizer.call"]
    assert [c["attrs"]["events"] for c in calls] == [4, 1]
    first = calls[0]
    flushes = [k for k in children(first, tracer.spans) if k["name"] == "tranquilizer.flush"]
    assert len(flushes) == 2  # the auto-flush and the handler's flush
    for fl in flushes:
        sinks = children(fl, tracer.spans)
        assert [s["name"] for s in sinks] == ["sink.write_batch"]
    assert 0 <= first["attrs"]["send_self_s"] <= first["end"] - first["start"]
    assert self_time(first, tracer.spans) >= 0


def test_sink_proxy_records_files_bytes_and_rows(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    class WritingBeam(FakeBeam):
        def write_batch(self, rows, batch_id):
            d = tmp_path / "ds=x" / "g=1" / "p=0"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table({"v": rows}), d / f"batch-{batch_id}-0.parquet")
            return len(rows)

    tracer = Tracer()
    p = sink_proxy(WritingBeam(tmp_path), tracer, "x")
    assert p.write_batch([1, 2, 3], 1) == 3
    (span,) = tracer.spans
    assert span["attrs"]["files"] == 1 and span["attrs"]["rows"] == 3
    assert span["attrs"]["bytes"] > 0 and span["attrs"]["datasource"] == "x"
