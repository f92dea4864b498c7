"""The ``catalog_mix`` process: catalog entries run as ``fn()`` then
``count()`` on a warmed session, each checked afterwards.

Set-up is the session (``session.get_spark``) plus bench.py's warm-up. The
timed pass runs on a fresh ``SPARK_GRAFT_INDEX_DIR``, so first-touch index
builds are part of the entry that triggers them. Afterwards each entry with
an oracle is collected once more (untimed) and compared with DuckDB's
answer over the same generated tables, which ``run.py`` computes
(``oracle_frames``) while this process starts its session; a rows-only
entry must have counted at least one row, the repository's parity rule for
entries without an oracle.

Run: ``python3 -m perfbench.catalog <job.json>``
"""

from __future__ import annotations

import time

T_START = time.time()

import re  # noqa: E402

# the catalog entries a run times, by group. Each run pays a fresh JVM and
# has about 40 s with set-up, room for about 12 s of entries; the rest of
# these groups is bench.py's to time
GROUPS = {
    "relational": ["flagship_hourly_rollup", "q21_waiting_suppliers"],
    "udf": ["emb7_dim_covariance", "a10e_kll_deterministic"],
    "pipeline": ["dd32_video_survivors"],
}
TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()

# executed-plan nodes that cross the JVM/Python boundary
_UDF_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"MapInPandas|MapInArrow|PythonMapInArrow|AggregateInPandas|WindowInPandas|"
    r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF|FlatMapGroupsInArrow)"
)


def oracle_frames(sf_dir: str, out_dir: str) -> None:
    """DuckDB's answer for every timed entry that has an oracle, over the
    tables in ``sf_dir``, pickled as ``<out_dir>/<entry>.pkl``."""
    import os

    import duckdb

    from tranquility_spark.catalog import CATALOG

    os.makedirs(out_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    for names in GROUPS.values():
        for name in names:
            if CATALOG[name].oracle is not None:
                con.sql(CATALOG[name].oracle).df().to_pickle(f"{out_dir}/{name}.pkl")
    con.close()


def udf_nodes(df) -> int:
    return len(_UDF_NODE.findall(df._jdf.queryExecution().executedPlan().toString()))


def _timed(tracer, name: str, fn, *args, **attrs) -> tuple[object, float, int | None]:
    """``fn(*args)``, its wall time and, when traced, its Spark job count."""
    if tracer is None:
        t0 = time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t0, None
    span = tracer.begin(name, count_jobs=True, **attrs)
    try:
        out = fn(*args)
    finally:
        tracer.end(span)
    return out, span["end"] - span["start"], span["attrs"]["jobs"]


def run_entry(spark, fn, sf_dir: str, tracer, name: str) -> tuple[dict, object]:
    entry = tracer.begin("catalog.entry", entry=name) if tracer else None
    try:
        df, build_s, build_jobs = _timed(tracer, "catalog.build", fn, spark, sf_dir, entry=name)
        rows, action_s, action_jobs = _timed(tracer, "catalog.action", df.count, entry=name)
    finally:
        if entry is not None:
            tracer.end(entry)
    timing = {"build_s": build_s, "action_s": action_s, "rows": rows}
    if tracer is not None:
        timing.update(build_jobs=build_jobs, action_jobs=action_jobs, udf_nodes=udf_nodes(df))
    return timing, df


def main() -> None:
    import pandas as pd

    from perfbench.oracle import parity_problems
    from perfbench.spark_side import (
        Phases,
        calibrate,
        load_job,
        wait_for_inputs,
        warm_up,
        write_result,
    )
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.session import get_spark

    phases = Phases(T_START)
    job = load_job()
    sf_dir = job["sf_dir"]
    spark = get_spark("perfbench-catalog")
    wait_for_inputs(job)
    warm_up(spark, job["calibration_dir"])
    setup_s = phases.mark("setup")
    cal_start = calibrate(spark, job["calibration_dir"])
    phases.mark("calibration_start")
    tracer = None
    if job["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    entries, frames = {}, {}
    for group, names in GROUPS.items():
        for name in names:
            entries[name] = {"group": group, "problems": []}
            try:
                timing, frames[name] = run_entry(spark, CATALOG[name].fn, sf_dir, tracer, name)
                entries[name].update(timing)
            except Exception as exc:  # noqa: BLE001 — a failing entry is counted
                entries[name]["problems"].append(f"raised: {exc!r}"[:300])
    phases.mark("pass")

    for name, df in frames.items():
        if CATALOG[name].oracle is not None:
            entries[name]["checked"] = "duckdb"
            want = pd.read_pickle(f"{job['oracle_dir']}/{name}.pkl")
            entries[name]["problems"] += parity_problems(df.toPandas(), want)
        else:
            entries[name]["checked"] = "rows"
            if entries[name]["rows"] == 0:
                entries[name]["problems"].append("rows-only entry returned 0 rows")
    phases.mark("check")
    cal_end = calibrate(spark, job["calibration_dir"])
    phases.mark("calibration_end")
    result = {
        "setup_s": setup_s,
        "entries": entries,
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
