"""In-memory spans and the call proxies that record them.

Spans are recorded from the benchmark's side of each layer boundary: a proxy
or a wrapped public method times the call, links it to the span open on the
same thread, and optionally counts the Spark jobs the call launched by
running it under its own job group. Spans are written out once, when the run
ends. Nothing here starts a thread or touches Spark until a call is made.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from typing import Any, Callable


class Tracer:
    """Spans as dicts: id, name, start, end (wall-clock seconds), parent,
    attrs. Thread-safe; the open span of each thread is the parent of the
    next span that thread opens."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        return self._local.__dict__.setdefault("stack", [])

    def begin(self, name: str, count_jobs: bool = False, **attrs) -> dict:
        stack = self._stack()
        span = {"id": next(self._ids), "name": name, "start": time.time(), "end": None,
                "parent": stack[-1]["id"] if stack else None, "attrs": attrs}
        if count_jobs and self.spark is not None:
            sc = self.spark.sparkContext
            span["_prev_group"] = sc.getLocalProperty("spark.jobGroup.id")
            span["_group"] = f"perfbench-{span['id']}"
            sc.setJobGroup(span["_group"], name)
        stack.append(span)
        return span

    def end(self, span: dict, **attrs) -> None:
        span["end"] = time.time()
        self._stack().remove(span)
        span["attrs"].update(attrs)
        group = span.pop("_group", None)
        if group is not None:
            prev = span.pop("_prev_group")
            sc = self.spark.sparkContext
            span["attrs"]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, "")
        with self._lock:
            self.spans.append(span)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def children(span: dict, spans: list[dict]) -> list[dict]:
    return [s for s in spans if s["parent"] == span["id"]]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((k["start"], k["end"]) for k in children(span, spans)):
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class Proxy:
    """Forwards every attribute read, write and call to ``target``; the
    methods named in ``hooks`` run through ``hooks[name](method, *args)``.

    ``hasattr`` answers as the target would, so code that probes optional
    methods (``hasattr(beam, "close")``) behaves the same through a proxy.
    """

    def __init__(self, target: Any, hooks: dict[str, Callable]):
        object.__setattr__(self, "_target", target)
        object.__setattr__(self, "_hooks", hooks)

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._target, name)
        hook = self._hooks.get(name)
        if hook is None or not callable(attr):
            return attr
        return functools.partial(hook, attr)

    def __setattr__(self, name: str, value: Any) -> None:
        setattr(self._target, name, value)


def published_files(root: str) -> dict[str, int]:
    """Size of every parquet file published under a sink root."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in ("_staging", "_batches")]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def traced_write(tracer: Tracer, sink_root: str, write: Callable, df, batch_id: int,
                 **attrs):
    """Run a sink write (``write(df, batch_id)``) as a ``sink.write_batch``
    span counting its jobs and the files and bytes it published."""
    import pyarrow.parquet as pq

    before = published_files(sink_root)
    span = tracer.begin("sink.write_batch", count_jobs=True, batch_id=batch_id, **attrs)
    try:
        return write(df, batch_id)
    finally:
        new = {p: n for p, n in published_files(sink_root).items() if p not in before}
        tracer.end(span, files=len(new), bytes=sum(new.values()),
                   rows=sum(pq.ParquetFile(p).metadata.num_rows for p in new))


def sink_proxy(sink: Any, tracer: Tracer, datasource: str) -> Proxy:
    """A SegmentSink whose ``write_batch`` calls are traced."""

    def write_batch(method, df, batch_id):
        return traced_write(tracer, sink.root, method, df, batch_id, datasource=datasource)

    return Proxy(sink, {"write_batch": write_batch})


def trace_tranquilizer(t: Any, tracer: Tracer, datasource: str) -> None:
    """Wrap a Tranquilizer instance's ``send`` and ``flush`` and proxy its
    beam. Instance attributes shadow the class methods, so the auto-flush
    ``send`` makes at maxBatchSize goes through the wrapper too.

    The HTTP handler calls "send x N, then flush"; that sequence becomes one
    ``tranquilizer.call`` span, opened by the first send and closed by the
    flush made outside a send, carrying the summed self time of the sends.
    Every flush is a ``tranquilizer.flush`` span inside it.
    """
    send, flush = t.send, t.flush
    local = threading.local()

    def traced_send(event):
        if getattr(local, "call", None) is None:
            local.call = tracer.begin("tranquilizer.call", datasource=datasource)
            local.n, local.send_s = 0, 0.0
        t0 = time.perf_counter()
        local.in_send = True
        try:
            return send(event)
        finally:
            local.in_send = False
            local.n += 1
            local.send_s += time.perf_counter() - t0

    def traced_flush():
        nested = getattr(local, "in_send", False)
        span = tracer.begin("tranquilizer.flush", count_jobs=True, datasource=datasource)
        t0 = time.perf_counter()
        try:
            flush()
        finally:
            tracer.end(span)
            if nested:
                local.send_s -= time.perf_counter() - t0
            elif getattr(local, "call", None) is not None:
                tracer.end(local.call, events=local.n, send_self_s=local.send_s)
                local.call = None

    t.send = traced_send
    t.flush = traced_flush
    t.beam = sink_proxy(t.beam, tracer, datasource)
