"""The library send API: ``Tranquilizer`` (S3) restated for Spark.

Reference: ``core/.../tranquilizer/Tranquilizer.scala`` (~400 LoC) — per-event
``send(event): Future[Unit]`` with batching (``maxBatchSize`` default 2000),
bounded in-flight batches (``maxPendingBatches`` 5) and ``lingerMillis`` (0);
dropped events resolve their future with ``MessageDroppedException``.

Spark restatement: ``send`` buffers dict events; a flush builds ONE
DataFrame for the batch — an Arrow-built local relation
(``arrow_frame.events_frame``) — and derives one plan from it: the ingest
spec's timestamp extraction plus an ``accepted`` flag (parseable and inside
the window period). One driver-side collect of (index, parsed, accepted)
resolves every event's future; the rows that plan accepts go to a Beam
(``SegmentSink.write_batch`` or ``MemoryBeam``). Nothing is decided
row-by-row in Python.

Flushes are synchronous and deterministic (the default lingerMillis=0 was
latency-biased anyway); ``maxPendingBatches`` back-pressure is therefore a
no-op, which only strengthens delivery semantics.
"""

from __future__ import annotations

import datetime as _dt
from concurrent.futures import Future
from typing import Callable, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tranquility_spark.operators.window_filter import window_condition
from tranquility_spark.specs import IngestSpec
from tranquility_spark.streaming.arrow_frame import events_frame

DEFAULT_MAX_BATCH_SIZE = 2000  # ref: Tranquilizer#DefaultMaxBatchSize


class MessageDroppedException(Exception):
    """Raised (via the send future) for events rejected by the window filter.

    Reference: ``com.metamx.tranquility.tranquilizer.MessageDroppedException``.
    """


class SendResult:
    def __init__(self, sent: bool):
        self.sent = sent


class Tranquilizer:
    def __init__(
        self,
        spark: SparkSession,
        spec: IngestSpec,
        beam,  # Beam (streaming/beams.py) or SegmentSink
        max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
        window_period: Optional[str] = "PT10M",
        clock: Optional[Callable[[], _dt.datetime]] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.beam = beam
        self.max_batch_size = max_batch_size
        self.window_period = window_period
        self.clock = clock
        self._buffer: list[tuple[dict, Future]] = []
        # Resume past any batch markers a previous run left in the sink:
        # _batch_id is in-memory, but SegmentSink.write_batch skips ids whose
        # marker exists — starting from 0 after a daemon restart would make
        # early flushes collide with the old run's markers and be silently
        # discarded while their futures still resolved sent=True.
        self._batch_id = beam.max_batch_id() if hasattr(beam, "max_batch_id") else 0
        self.sent_count = 0
        self.dropped_count = 0

    def send(self, event: dict) -> Future:
        """Buffer one event; returns a future resolving to SendResult(sent=True)
        or raising MessageDroppedException. Auto-flushes at maxBatchSize."""
        fut: Future = Future()
        self._buffer.append((event, fut))
        if len(self._buffer) >= self.max_batch_size:
            self.flush()
        return fut

    def flush(self) -> None:
        if not self._buffer:
            return
        events = [e for e, _ in self._buffer]
        futures = [f for _, f in self._buffer]
        self._buffer = []
        try:
            self._flush(events, futures)
        except Exception as exc:
            # r14 code-review: a failed flush must resolve every pending
            # future exceptionally (the reference's contract), not leave
            # clients blocked on futures nobody will ever complete while
            # the buffered events are already gone
            for fut in futures:
                if not fut.done():
                    self.dropped_count += 1
                    fut.set_exception(exc)
            raise

    def _flush(self, events: list, futures: list) -> None:
        idx_col = "__send_idx"
        df = events_frame(self.spark, events, idx_col)
        ts_spec = self.spec.timestamp_spec
        ts = F.col(ts_spec.output)
        parsed = df.withColumn(ts_spec.output, ts_spec.extract(df))
        accepted = ts.isNotNull()
        if self.window_period is not None:
            # resolve 'now' driver-side exactly once per flush so the
            # disposition and the written rows see the SAME instant.
            # Keep it tz-AWARE: PySpark converts aware datetimes via the
            # UTC instant (calendar.timegm), while a naive one goes
            # through time.mktime in the driver's OS timezone — on any
            # non-UTC host that would shift the window center by the UTC
            # offset and drop every current event (ADVICE r14, high).
            now = self.clock() if self.clock else _dt.datetime.now(_dt.timezone.utc)
            accepted = accepted & window_condition(ts, self.window_period, now=now)
        # The disposition and the write are two evaluations of ONE plan, and
        # they agree row for row: the input is a local relation, 'now' is a
        # literal, and every expression is deterministic (r14 code-review:
        # with a current_timestamp() filter each action re-resolved the
        # clock, so the write could drop boundary rows the disposition had
        # already acknowledged as sent). Over a local relation this collect
        # runs on the driver and launches no Spark job.
        disposition = parsed.select(idx_col, ts.isNotNull(), accepted).collect()
        parse_ok_idx = {i for i, ok, _ in disposition if ok}
        accepted_idx = {i for i, _, acc in disposition if acc}
        batch = parsed.filter(accepted).drop(idx_col)

        self._batch_id += 1
        expected = len(accepted_idx)
        if hasattr(self.beam, "write_batch"):
            written = self.beam.write_batch(batch, self._batch_id)
        else:
            written = self.beam.send_all(batch)
        if expected > 0 and written == 0:
            # r14 code-review: the sink SIGNALS a batch-id collision (a
            # marker already committed under this id — the misconfigured
            # double-producer case) by returning 0; acknowledging these
            # events as sent would be silent data loss
            raise MessageDroppedException(
                f"batch {self._batch_id} was not written: a marker for this "
                "batch id already exists (concurrent producer / batch-id "
                "collision), or the sink's own window filter rejected the "
                "whole batch — events were NOT delivered"
            )

        for i, fut in enumerate(futures):
            if i in accepted_idx:
                self.sent_count += 1
                fut.set_result(SendResult(sent=True))
            else:
                self.dropped_count += 1
                # name the actual cause (r14 code-review: every drop used
                # to blame windowPeriod, even parse failures with the
                # window disabled)
                if i not in parse_ok_idx:
                    msg = (
                        f"event {i}: unparseable timestamp "
                        f"(column {self.spec.timestamp_spec.column!r})"
                    )
                else:
                    msg = f"event {i} outside windowPeriod {self.window_period}"
                fut.set_exception(MessageDroppedException(msg))

    def close(self) -> None:
        self.flush()
        if hasattr(self.beam, "close"):
            self.beam.close()
