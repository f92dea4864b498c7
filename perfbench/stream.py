"""The ``stream_rollup`` process: backlog drains through the program's
streaming rollup into its segment sink.

One drain is ``readStream`` over the generated parquet files with
``maxFilesPerTrigger=1`` → ``streaming.pipeline.stream_rollup`` (HOUR
segments, MINUTE query granularity, 10-minute watermark) →
``SegmentSink.foreach_batch`` with ``trigger(availableNow=True)``, on a
fresh checkpoint and sink. Set-up is the session (``session.get_spark``)
and one warm-up drain of the same input, which pays the streaming path's
one-time costs (code generation, state-store and writer initialisation)
and most of the JIT compilation a drain triggers. Measured drains repeat
until the run's seconds are used, at least ``MIN_DRAINS``; each one's
committed segments are compared with the batch oracle.

Run: ``python3 -m perfbench.stream <job.json>``
"""

from __future__ import annotations

import time

T_START = time.time()

import os  # noqa: E402

WATERMARK = "10 minutes"
WATERMARK_MS = 10 * 60_000
# the first drain after the warm-up still runs partly in code the JIT has
# not compiled yet, so a run times at least one more after it
MIN_DRAINS = 2


def _spec():
    from tranquility_spark.specs import (
        Count,
        DimensionsSpec,
        GranularitySpec,
        IngestSpec,
        LongSum,
        TimestampSpec,
    )

    return IngestSpec(
        datasource="rollup",
        timestamp_spec=TimestampSpec(column="timestamp", format="millis", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=("page", "country")),
        metrics=(Count("n"), LongSum("added", "added"), LongSum("deleted", "deleted")),
        granularity_spec=GranularitySpec("HOUR", "MINUTE"),
    )


def drain(spark, job: dict, k: int, tracer) -> dict:
    from pyspark.sql import functions as F

    from perfbench.spark_side import progress_phases
    from tranquility_spark.streaming.pipeline import stream_rollup
    from tranquility_spark.streaming.sink import SegmentSink

    base = os.path.join(job["work"], f"drain-{k}")
    sink = SegmentSink(f"{base}/segments", "rollup", "HOUR", ts_col="ts")
    write = sink.foreach_batch()
    if tracer is not None:
        from perfbench.trace import traced_write

        plain = write

        def write(df, batch_id):
            traced_write(tracer, sink.root, plain, df, batch_id, drain=k)

    t0 = time.time()
    raw = (
        spark.readStream.schema(job["schema"])
        .option("maxFilesPerTrigger", 1)
        .parquet(job["input_dir"])
    )
    rolled = stream_rollup(raw, _spec(), watermark=WATERMARK)
    query = (
        rolled.writeStream.outputMode("append")
        .foreachBatch(write)
        .option("checkpointLocation", f"{base}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    failure = None
    try:
        query.awaitTermination()
    except Exception as exc:  # noqa: BLE001 — a failed drain is a counted failure
        failure = exc
    wall = time.time() - t0
    batches = progress_phases(query.recentProgress)
    committed = None
    if failure is None:
        committed = (
            sink.read(spark, committed_only=True)
            .select(
                F.unix_millis("segment_start").alias("segment_start"),
                F.unix_millis("ts").alias("ts"),
                "page", "country", "n", "added", "deleted",
            )
            .toPandas()
        )
    return {"wall_s": wall, "batches": batches, "committed": committed,
            "error": None if failure is None else str(failure)[:500]}


def main() -> None:
    import pyarrow.parquet as pq

    from perfbench import oracle
    from perfbench.spark_side import (
        Phases,
        calibrate,
        load_job,
        wait_for_inputs,
        write_result,
    )
    from tranquility_spark.session import get_spark

    phases = Phases(T_START)
    job = load_job()
    spark = get_spark("perfbench-stream")
    wait_for_inputs(job)
    warm = drain(spark, job, -1, None)
    if warm["error"]:
        raise RuntimeError(f"warm-up drain failed: {warm['error']}")
    setup_s = phases.mark("setup")
    cal_start = calibrate(spark, job["calibration_dir"])
    phases.mark("calibration_start")
    tracer = None
    if job["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    files = sorted(os.listdir(job["input_dir"]))
    want, stats = oracle.stream_rollup_oracle(
        [pq.read_table(os.path.join(job["input_dir"], f)).to_pandas() for f in files],
        WATERMARK_MS,
    )
    phases.mark("oracle")
    drains = []
    deadline = time.time() + job["seconds"]
    while len(drains) < MIN_DRAINS or time.time() < deadline:
        d = drain(spark, job, len(drains), tracer)
        phases.mark(f"drain_{len(drains)}")
        got = d.pop("committed")
        d["problems"] = (
            [d["error"]] if got is None else oracle.frames_equal(got, want, oracle.STREAM_KEYS)
        )
        d["rows_committed"] = 0 if got is None else len(got)
        d["events_committed"] = 0 if got is None else int(got["n"].sum())
        phases.mark(f"check_{len(drains)}")
        drains.append(d)
        if got is None:
            break

    cal_end = calibrate(spark, job["calibration_dir"])
    phases.mark("calibration_end")
    result = {
        "setup_s": setup_s,
        "oracle": stats,
        "drains": drains,
        "calibration": {"start": cal_start, "end": cal_end},
        "spark_version": spark.version,
        "phases": phases.seconds,
    }
    if tracer is not None:
        tracer.dump(job["spans"])
    write_result(job, result)
    spark.stop()


if __name__ == "__main__":
    main()
