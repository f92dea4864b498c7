"""Helpers shared by the processes that host the program's Spark session.

Each such process (``perfbench.server``, ``perfbench.stream``,
``perfbench.catalog``) is started by ``run.py`` with one JSON argument, the
path of its job file, and answers by writing the JSON result file the job
names. Importing this module starts nothing.
"""

from __future__ import annotations

import json
import sys
import time

# bench.py's quiet-box anchor for its two calibration probes (seconds)
CAL_ANCHOR = {"scan_lineitem_agg": 0.33, "cpu_hash_50m": 0.243}


class Phases:
    """Wall time of each phase of a process, for the run record."""

    def __init__(self, start: float):
        self.last = start
        self.seconds: dict[str, float] = {}

    def mark(self, name: str) -> float:
        now = time.time()
        self.seconds[name] = now - self.last
        self.last = now
        return self.seconds[name]


def load_job() -> dict:
    with open(sys.argv[1]) as f:
        return json.load(f)


def wait_for_inputs(job: dict, timeout: float = 120.0) -> None:
    """Block until ``run.py`` has written every generated input; it
    generates them while this process starts its session."""
    import os

    deadline = time.time() + timeout
    while not os.path.exists(job["inputs_ready"]):
        if time.time() > deadline:
            raise TimeoutError("inputs were not generated in time")
        time.sleep(0.05)


def write_result(job: dict, result: dict) -> None:
    with open(job["result"], "w") as f:
        json.dump(result, f)


def calibrate(spark, lineitem_dir: str) -> dict[str, float]:
    """bench.py's two probes, each as the min of three runs: a full
    lineitem scan with one aggregate, and 50M hashes with no IO."""
    from pyspark.sql import functions as F

    probes = {
        "scan_lineitem_agg": lambda: spark.read.parquet(f"{lineitem_dir}/lineitem.parquet")
        .agg(F.sum("l_extendedprice"), F.count(F.lit(1)))
        .count(),
        "cpu_hash_50m": lambda: spark.range(50_000_000).agg(F.sum(F.xxhash64("id"))).count(),
    }
    out = {}
    for name, probe in probes.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            probe()
            best = min(best, time.perf_counter() - t0)
        out[name] = best
    return out


def warm_up(spark, lineitem_dir: str) -> None:
    """bench.py's warm-up: a trivial parquet action for the JVM and one
    tiny pandas UDF, which pays the Python worker fork-and-handshake."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.pandas_fns import simhash64

    spark.read.parquet(f"{lineitem_dir}/lineitem.parquet").limit(10).count()
    spark.range(100).select(simhash64(F.col("id").cast("string"))).count()


def progress_phases(progress: list[dict]) -> list[dict]:
    """One row per micro-batch from ``StreamingQuery.recentProgress``."""
    rows = []
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators") or [{}]
        op = ops[0]
        rows.append(
            {
                "batch_id": p["batchId"],
                "timestamp": p["timestamp"],
                "input_rows": p.get("numInputRows", 0),
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "get_batch_ms": d.get("getBatch", 0) + d.get("latestOffset", 0),
                "wal_commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": op.get("numRowsTotal", 0),
                "state_memory_bytes": op.get("memoryUsedBytes", 0),
                "state_update_ms": op.get("allUpdatesTimeMs", 0),
                "state_removal_ms": op.get("allRemovalsTimeMs", 0),
                "state_commit_ms": op.get("commitTimeMs", 0),
                "state_dropped_by_watermark": op.get("numRowsDroppedByWatermark", 0),
                "watermark": p.get("eventTime", {}).get("watermark"),
            }
        )
    return rows
