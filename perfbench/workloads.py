"""The three workloads, as seen from the benchmark's parent process.

Each runner starts the process that hosts the program
(``perfbench.server``, ``perfbench.stream`` or ``perfbench.catalog``),
generates the inputs from the seed while that process starts its session,
checks every output and turns samples and spans into metrics. The parent
itself never starts Spark.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os

from perfbench import gen, oracle
from perfbench.procs import Child
from perfbench.spark_side import CAL_ANCHOR
from perfbench.trace import children, self_time

HTTP_DATASOURCES = ["wiki-a", "wiki-b"]
HTTP_CLIENTS_PER_DS = 2
HTTP_BODY_SIZE = 2000  # the reference's default maxBatchSize
HTTP_WARMUP_BODIES = 1

STREAM_EVENTS = 300_000
STREAM_FILES = 8
STREAM_PAGES = 70  # a rollup ratio near 10:1 at 1,250 events a minute

CATALOG_SF = 0.01


@dataclasses.dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: int
    trace: bool
    spans_path: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclasses.dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict
    details: dict


def _phases(child: Child, res: dict) -> dict:
    """Where the run's wall time went: the hosting process's own phases,
    and the time from its spawn to its exit."""
    return {**res["phases"], "process_total": child.ended - child.started}


def _common_metrics(child: Child, res: dict) -> dict:
    logs = child.log_counts()
    return {
        "setup_s": res["setup_s"],
        "proc.peak_rss_mb": child.peak_rss_bytes / 2**20,
        "log.accumulator_errors": logs["accumulator_errors"],
        "log.block_already_exists": logs["block_already_exists"],
    }


def _calibration(res: dict) -> dict:
    """Both probe readings and ``calibration_ok`` from the worse of them."""
    cal = res["calibration"]
    worst = {k: max(cal["start"][k], cal["end"][k]) for k in cal["start"]}
    return {**cal, "anchor": CAL_ANCHOR,
            "calibration_ok": all(worst[k] <= 1.5 * a for k, a in CAL_ANCHOR.items())}


def _latency(samples: list[float]) -> dict:
    """``latency_s`` is the median operation; the record adds the tail."""
    value, pct, n = oracle.tail(samples)
    return {"latency_s": oracle.median(samples), "latency_p50_s": oracle.median(samples),
            "latency_tail_s": value, "tail_percentile": pct, "latency_samples": n}


# ---------------------------------------------------------------------------
# http_ingest
# ---------------------------------------------------------------------------


def _druid_config(sink_root: str) -> dict:
    def ds(name: str) -> dict:
        return {
            "spec": {
                "dataSchema": {
                    "dataSource": name,
                    "parser": {
                        "parseSpec": {
                            "timestampSpec": {"column": "timestamp", "format": "iso"},
                            "dimensionsSpec": {"dimensions": ["page", "user", "country"]},
                        }
                    },
                    "metricsSpec": [
                        {"type": "count", "name": "n"},
                        {"type": "longSum", "name": "added", "fieldName": "added"},
                        {"type": "longSum", "name": "deleted", "fieldName": "deleted"},
                    ],
                    "granularitySpec": {"segmentGranularity": "HOUR",
                                        "queryGranularity": "MINUTE"},
                }
            },
            "tuning": {"windowPeriod": "PT10M", "maxBatchSize": HTTP_BODY_SIZE,
                       "partitions": 1, "replicants": 1},
        }

    return {"dataSources": [ds(n) for n in HTTP_DATASOURCES], "sink": {"root": sink_root},
            "server": {"host": "127.0.0.1", "port": 0}}


def http_ingest(ctx: Ctx) -> Result:
    from perfbench.http_load import run_load

    job = {
        "inputs_ready": ctx.path("inputs.ready"),
        "server_config": _druid_config(ctx.path("segments")),
        "trace": ctx.trace,
        "calibration_dir": ctx.path("calibration"),
        "ready": ctx.path("ready.json"),
        "calibrated": ctx.path("calibrated.json"),
        "result": ctx.path("server-result.json"),
        "spans": ctx.path("server-spans.json"),
    }
    child = Child("perfbench.server", job, ctx.root, ctx.work, stdin_pipe=True)
    try:
        gen.calibration_lineitem(ctx.path("calibration"))
        child.inputs_ready()
        child.wait_for_file(job["ready"], timeout=170)
        with open(job["ready"]) as f:
            port = json.load(f)["port"]

        def calibrate():  # on the warmed-up server, before the timed window
            child.proc.stdin.write(b"calibrate\n")
            child.proc.stdin.flush()
            child.wait_for_file(job["calibrated"], timeout=120)

        requests, window_start = run_load(
            port, ctx.seed, ctx.seconds, HTTP_DATASOURCES, HTTP_CLIENTS_PER_DS,
            HTTP_BODY_SIZE, HTTP_WARMUP_BODIES, between=calibrate,
        )
        res = child.finish(timeout=150)
    finally:
        child.kill()

    def ok(r: dict) -> bool:
        return (r["status"] == 200 and r["received"] == r["events"]
                and r["sent"] == r["expected_sent"])

    sent_by_ds = {ds: sum(r["sent"] or 0 for r in requests if r["datasource"] == ds and ok(r))
                  for ds in HTTP_DATASOURCES}
    sink_ok = {ds: res["sink_rows"][ds] == sent_by_ds[ds] for ds in HTTP_DATASOURCES}
    failed = sum(not ok(r) for r in requests) + sum(not v for v in sink_ok.values())
    timed = [r for r in requests if not r["warmup"]]
    window_end = max(r["end"] for r in timed)
    # closed loop, no think time: every client is always waiting on a
    # request, so throughput = clients x acknowledged events / summed round
    # trips (Little's law), which no request cut at the window's edge skews
    n_clients = len(HTTP_DATASOURCES) * HTTP_CLIENTS_PER_DS
    acked = sum(r["sent"] for r in timed if ok(r))
    generated = sum(r["events"] for r in requests)
    received = sum(r["received"] or 0 for r in requests)
    sent = sum(r["sent"] or 0 for r in requests)
    round_trips = [r["end"] - r["start"] for r in timed]
    metrics = {
        **_common_metrics(child, res),
        "throughput_per_s": n_clients * acked / sum(round_trips),
        **_latency(round_trips),
        # a request either finds its dataSource's lock free (one flush) or
        # waits for the other client's flush first (two), and a run has
        # 6-8 requests, so their median jumps between the two modes from
        # run to run; the mean, which Little's law ties to the throughput,
        # does not
        "latency_s": sum(round_trips) / len(round_trips),
        "tranquilizer.accept_ratio": sent / received,
        "http.bytes_per_event": sum(r["bytes"] for r in requests) / generated,
    }
    details = {
        "offered_load": {"loop": "closed", "clients": n_clients,
                         "datasources": HTTP_DATASOURCES, "body_events": HTTP_BODY_SIZE,
                         "smile_clients": 1, "warmup_bodies_per_client": HTTP_WARMUP_BODIES},
        "window_s": window_end - window_start,
        "window_events_per_s": acked / (window_end - window_start),
        "accept_ratio_base": {"received": received, "sent": sent},
        "measured_input": {
            "out_of_window_share": sum(r["events"] - r["expected_sent"] - r["unparseable"]
                                       for r in requests) / generated,
            "unparseable_share": sum(r["unparseable"] for r in requests) / generated,
        },
        "sink_rows": res["sink_rows"],
        "sent_by_datasource": sent_by_ds,
        "tranquilizer_counters": res["tranquilizer_counters"],
        "calibration": _calibration(res),
        "phases": _phases(child, res),
        "spark_version": res["spark_version"],
        "requests": requests,
    }
    if ctx.trace:
        with open(job["spans"]) as f:
            metrics.update(_http_layers(requests, json.load(f), ctx.spans_path))
    return Result(len(requests) + len(HTTP_DATASOURCES), failed, metrics, details)


def _http_layers(requests: list[dict], spans: list[dict], spans_path: str) -> dict:
    """Link server spans to client requests and compute layer metrics.

    The program carries no request id across the handler, so a
    ``tranquilizer.call`` span is linked to the request on the same
    dataSource whose interval contains it and that ended first after it.
    """
    req_spans = []
    base = max((s["id"] for s in spans), default=0)
    for i, r in enumerate(requests):
        req_spans.append({"id": base + 1 + i, "name": "http.request", "start": r["start"],
                          "end": r["end"], "parent": None,
                          "attrs": {"datasource": r["datasource"], "warmup": r["warmup"],
                                    "status": r["status"], "events": r["events"]}})
    send_self = []
    for call in (s for s in spans if s["name"] == "tranquilizer.call"):
        ds = call["attrs"]["datasource"]
        owners = [q for q in req_spans if q["attrs"]["datasource"] == ds
                  and q["start"] <= call["start"] and call["end"] <= q["end"]]
        if owners:
            owner = min(owners, key=lambda q: q["end"])
            call["parent"] = owner["id"]
            if not owner["attrs"]["warmup"]:
                send_self.append(call["attrs"]["send_self_s"])
    everything = req_spans + spans
    handler_self = [self_time(q, everything) for q in req_spans
                    if not q["attrs"]["warmup"] and children(q, everything)]
    sinks = [s for s in spans if s["name"] == "sink.write_batch"]
    flush_s, flush_self_s, flush_jobs = [], [], []
    for fl in (s for s in spans if s["name"] == "tranquilizer.flush"):
        kids = children(fl, spans)
        if not kids:
            continue  # the handler's closing flush of an empty buffer
        flush_s.append(fl["end"] - fl["start"])
        flush_self_s.append(self_time(fl, spans))
        flush_jobs.append(fl["attrs"]["jobs"] + sum(k["attrs"]["jobs"] for k in kids))
    with open(spans_path, "w") as f:
        json.dump(everything, f)
    return {
        "http.handler_self_s": oracle.median(handler_self),
        "tranquilizer.send_s": oracle.median(send_self),
        "tranquilizer.flush_s": oracle.median(flush_s),
        "tranquilizer.flush_self_s": oracle.median(flush_self_s),
        "tranquilizer.jobs_per_flush": oracle.median(flush_jobs),
        **_sink_layers(sinks),
    }


def _sink_layers(sinks: list[dict]) -> dict:
    """Sink figures over the batches that wrote rows (a streaming rollup
    emits rows only when the watermark closes a window; the other batches
    still run one empty write each, counted in ``sink.empty_batches``)."""
    writing = [s for s in sinks if s["attrs"]["rows"]]
    rows = sum(s["attrs"]["rows"] for s in writing)
    return {
        "sink.write_batch_s": oracle.median([s["end"] - s["start"] for s in writing]),
        "sink.jobs_per_batch": oracle.median([s["attrs"]["jobs"] for s in writing]),
        "sink.files_per_batch": oracle.median([s["attrs"]["files"] for s in writing]),
        "sink.bytes_per_row": sum(s["attrs"]["bytes"] for s in writing) / rows if rows else 0,
        "sink.rows_written": rows,
        "sink.empty_batches": len(sinks) - len(writing),
    }


# ---------------------------------------------------------------------------
# stream_rollup
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "timestamp BIGINT, page STRING, country STRING, added BIGINT, deleted BIGINT"


def stream_rollup(ctx: Ctx) -> Result:
    job = {
        "inputs_ready": ctx.path("inputs.ready"),
        "work": ctx.work,
        "input_dir": ctx.path("input"),
        "schema": STREAM_SCHEMA,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "calibration_dir": ctx.path("calibration"),
        "result": ctx.path("stream-result.json"),
        "spans": ctx.path("stream-spans.json"),
    }
    child = Child("perfbench.stream", job, ctx.root, ctx.work)
    try:
        gen.calibration_lineitem(ctx.path("calibration"))
        files = gen.stream_events(ctx.seed, STREAM_EVENTS, STREAM_FILES, STREAM_PAGES)
        gen.write_stream_files(files, ctx.path("input"))
        child.inputs_ready()
        res = child.finish(timeout=170)
    finally:
        child.kill()
    drains = res["drains"]
    batches = [b for d in drains for b in d["batches"]]
    failed = sum(bool(d["problems"]) for d in drains)  # a failed drain has its error here
    events = res["oracle"]["events"]
    metrics = {
        **_common_metrics(child, res),
        "throughput_per_s": oracle.median([events / d["wall_s"] for d in drains]),
        **_latency([b["trigger_ms"] / 1000.0 for b in batches]),
    }
    details = {
        "offered_load": {"events": events, "files": STREAM_FILES, "maxFilesPerTrigger": 1,
                         "pages": STREAM_PAGES, "drains": len(drains)},
        "measured_input": _stream_input_properties(files, res["oracle"]),
        "oracle": res["oracle"],
        "drains": drains,
        "calibration": _calibration(res),
        "phases": _phases(child, res),
        "spark_version": res["spark_version"],
    }
    if ctx.trace:
        with open(job["spans"]) as f:
            metrics.update(_stream_layers(drains, json.load(f), ctx.spans_path))
    return Result(len(batches) + len(drains), failed, metrics, details)


def _stream_input_properties(files, stats: dict) -> dict:
    """Late share, watermark-dropped share, rollup ratio and key skew of
    the input this run actually generated."""
    import numpy as np
    import pyarrow as pa

    table = pa.concat_tables(files)
    ts = table.column("timestamp").to_numpy()
    running_max = np.maximum.accumulate(ts)
    pages = table.column("page").to_pandas().value_counts()
    return {
        "out_of_order_share": float((ts < running_max).mean()),
        "watermark_dropped_share": stats["dropped_by_watermark"] / stats["events"],
        "rollup_ratio": stats["events_in_closed_windows"] / stats["rows"],
        "top_page_share": float(pages.iloc[0] / len(ts)),
        "distinct_pages": int(len(pages)),
    }


def _stream_layers(drains: list[dict], spans: list[dict], spans_path: str) -> dict:
    """Per-batch phases from recentProgress, state-store figures, and the
    sink spans, each linked under its ``stream.batch`` span."""
    import datetime as dt

    batches = [b for d in drains for b in d["batches"]]
    base = max((s["id"] for s in spans), default=0)
    batch_spans = {}
    for k, d in enumerate(drains):
        for b in d["batches"]:
            start = dt.datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            base += 1
            batch_spans[(k, b["batch_id"])] = {
                "id": base, "name": "stream.batch", "start": start,
                "end": start + b["trigger_ms"] / 1000.0, "parent": None,
                "attrs": {"drain": k, **{x: b[x] for x in ("batch_id", "input_rows")}}}
    sinks = [s for s in spans if s["name"] == "sink.write_batch"]
    for s in sinks:
        owner = batch_spans.get((s["attrs"]["drain"], s["attrs"]["batch_id"]))
        if owner is not None:
            s["parent"] = owner["id"]
    with open(spans_path, "w") as f:
        json.dump(list(batch_spans.values()) + spans, f)
    out = {}
    for phase in ("add_batch_ms", "query_planning_ms", "get_batch_ms", "wal_commit_ms"):
        values = [b[phase] for b in batches]
        out[f"stream.{phase}.p50"] = oracle.median(values)
        out[f"stream.{phase}.sum"] = sum(values) / len(drains)
    out.update({
        "state.rows_peak": max(b["state_rows"] for b in batches),
        "state.memory_peak_bytes": max(b["state_memory_bytes"] for b in batches),
        "state.update_ms": sum(b["state_update_ms"] for b in batches) / len(drains),
        "state.removal_ms": sum(b["state_removal_ms"] for b in batches) / len(drains),
        "state.commit_ms": sum(b["state_commit_ms"] for b in batches) / len(drains),
        "state.rows_dropped_by_watermark":
            sum(b["state_dropped_by_watermark"] for b in batches) / len(drains),
        "stream.rollup_ratio": drains[-1]["events_committed"] / drains[-1]["rows_committed"],
        **_sink_layers(sinks),
    })
    return out


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------

# entries whose own build and action times are reported in a traced run
CATALOG_TRACED_ENTRIES = (
    "dd32_video_survivors", "q21_waiting_suppliers", "a10e_kll_deterministic",
)


def catalog_mix(ctx: Ctx) -> Result:
    from perfbench.catalog import oracle_frames

    job = {
        "inputs_ready": ctx.path("inputs.ready"),
        "sf_dir": ctx.path("sf"),
        "oracle_dir": ctx.path("oracle"),
        "trace": ctx.trace,
        "calibration_dir": ctx.path("calibration"),
        "result": ctx.path("catalog-result.json"),
        "spans": ctx.path("catalog-spans.json"),
    }
    child = Child("perfbench.catalog", job, ctx.root, ctx.work)
    try:
        gen.calibration_lineitem(ctx.path("calibration"))
        gen.write_tables(gen.catalog_tables(ctx.seed, CATALOG_SF), ctx.path("sf"))
        oracle_frames(job["sf_dir"], job["oracle_dir"])
        child.inputs_ready()
        res = child.finish(timeout=170)
    finally:
        child.kill()
    entries = res["entries"]
    done = {n: e for n, e in entries.items() if "build_s" in e}
    failed = sum(bool(e["problems"]) for e in entries.values())
    wall = {n: e["build_s"] + e["action_s"] for n, e in done.items()}
    groups = sorted({e["group"] for e in entries.values()})
    metrics = {
        **_common_metrics(child, res),
        "throughput_per_s": len(done) / sum(wall.values()),
        **_latency(list(wall.values())),
        # the entries differ in cost by 3x and more, so their median is
        # whichever entry sorts in the middle; the geometric mean (the TPC
        # power-metric summary) weighs every entry's relative change alike
        "latency_s": math.exp(sum(math.log(w) for w in wall.values()) / len(wall)),
        **{f"{g}_s": sum(w for n, w in wall.items() if entries[n]["group"] == g) for g in groups},
    }
    details = {
        "offered_load": {"sf": CATALOG_SF, "entries": len(entries), "passes": 1,
                         "index_dir": "fresh per run"},
        "entries": entries,
        "calibration": _calibration(res),
        "phases": _phases(child, res),
        "spark_version": res["spark_version"],
    }
    if ctx.trace:
        with open(job["spans"]) as f:
            spans = json.load(f)
        with open(ctx.spans_path, "w") as f:
            json.dump(spans, f)
        for g in groups:
            members = [e for e in done.values() if e["group"] == g]
            for key in ("build_s", "action_s", "build_jobs", "action_jobs", "udf_nodes"):
                metrics[f"catalog.{key}.{g}"] = sum(e[key] for e in members)
        for n in CATALOG_TRACED_ENTRIES:
            if n in done:
                metrics[f"catalog.{n}.build_s"] = done[n]["build_s"]
                metrics[f"catalog.{n}.action_s"] = done[n]["action_s"]
    return Result(len(entries), failed, metrics, details)


RUNNERS = {"http_ingest": http_ingest, "stream_rollup": stream_rollup, "catalog_mix": catalog_mix}
