"""The ``http_ingest`` server process: the program's daemon, built with
``server_main.build_server`` from a Druid-spec config.

Protocol with ``run.py``: once the server listens, it writes the job's
``ready`` file (port and set-up time) and serves. A ``calibrate`` line on
its standard input runs the calibration probes (once the load generator
has warmed the server up) and answers in the ``calibrated`` file. When its
standard input closes it stops the server (which flushes and closes every
Tranquilizer), reads each dataSource back with
``SegmentSink.read(committed_only=True)``, probes again and writes the
result file.

Run: ``python3 -m perfbench.server <job.json>``
"""

from __future__ import annotations

import time

T_START = time.time()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


def _publish(path: str, payload: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(payload, f)
    os.rename(path + ".tmp", path)


def main() -> None:
    from perfbench.spark_side import (
        Phases,
        calibrate,
        load_job,
        wait_for_inputs,
        write_result,
    )

    phases = Phases(T_START)
    job = load_job()
    from pyspark.sql import SparkSession

    from tranquility_spark.server_main import build_server

    server = build_server(job["server_config"])
    spark = SparkSession.getActiveSession()
    tracer = None
    if job["trace"]:
        from perfbench.trace import Tracer, trace_tranquilizer

        tracer = Tracer(spark)
        for ds, t in server.tranquilizers.items():
            trace_tranquilizer(t, tracer, ds)
    server.start()
    setup_s = phases.mark("setup")
    wait_for_inputs(job)
    _publish(job["ready"], {"port": server.port, "setup_s": setup_s})

    cal_start = None
    for line in sys.stdin:  # serve until run.py closes our stdin
        if line.strip() == "calibrate":
            phases.mark("warmup")
            cal_start = calibrate(spark, job["calibration_dir"])
            phases.mark("calibration_start")
            _publish(job["calibrated"], cal_start)
    phases.mark("serve")

    server.stop()
    phases.mark("stop")
    rows = {
        ds: t.beam.read(spark, committed_only=True).count()
        for ds, t in server.tranquilizers.items()
    }
    phases.mark("check")
    counters = {
        ds: {"sent": t.sent_count, "dropped": t.dropped_count}
        for ds, t in server.tranquilizers.items()
    }
    cal_end = calibrate(spark, job["calibration_dir"])
    phases.mark("calibration_end")
    result = {
        "setup_s": setup_s,
        "sink_rows": rows,
        "tranquilizer_counters": counters,
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
