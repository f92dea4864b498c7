#!/usr/bin/env python3
"""The repository's benchmark: the ingest daemon, the streaming rollup and
the catalog, each timed end to end and, in a traced run, layer by layer.

    python3 perfbench/run.py --workload http_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

A single workload prints, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric of BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. A per-layer metric whose layer the workload does not run
reads 0. The full record of the run (configuration, calibration, every
sample) is written to ``.perfbench_out/<workload>-seed<n>-trace<t>.json``
and a traced run's spans to ``.perfbench_out/<workload>-seed<n>-spans.json``.

``--workload all`` runs each workload untraced and then traced, prints the
end-to-end metrics by name and unit, the per-layer metrics, ``error_frac``
and the tracing overhead, and exits non-zero if any output was wrong.

Inputs are generated from ``--seed`` (``perfbench/gen.py``); the program
only ever sees the generated inputs. Everything a run writes stays under
the checkout root, in ``.perfbench_work/`` (removed when the run ends) and
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def describe(seed: int, seconds: int, trace: bool) -> dict:
    """What a record needs so that two records can be told apart."""
    from importlib.metadata import version

    return {
        "cores": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "pyarrow": version("pyarrow"),
        "git_sha": git_sha(),
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "host": platform.node(),
    }


def run_one(spec: dict, name: str, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    spans_path = os.path.join(OUT_DIR, f"{name}-seed{seed}-spans.json")
    started = time.time()
    try:
        res = workloads.RUNNERS[name](
            workloads.Ctx(root=ROOT, work=work, seed=seed, seconds=seconds, trace=trace,
                          spans_path=spans_path)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in declared:
        value = res.metrics.get(m["name"])
        if value is None:
            if not trace:
                raise RuntimeError(f"{name}: end-to-end metric {m['name']} not measured")
            value = 0  # this workload does not run the metric's layer
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    line = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    record = {
        "workload": name,
        "config": describe(seed, seconds, trace),
        "wall_s": time.time() - started,
        "error_frac": res.failed / res.attempted,
        "result": line,
        "all_metrics": res.metrics,
        "details": res.details,
    }
    if trace:
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    with open(os.path.join(OUT_DIR, f"{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def run_all(spec: dict, seed: int, seconds: int) -> int:
    """One command for everything: each workload untraced, then traced.

    Prints every metric of the untraced run by name and unit (the declared
    end-to-end metrics and the per-workload extras such as the latency
    tail and the catalog group times), the traced run's per-layer
    metrics, and the tracing overhead on each end-to-end metric."""
    ok = True
    summary = {}
    for w in spec["workloads"]:
        name = w["name"]
        plain = run_one(spec, name, seed, seconds, False)
        traced = run_one(spec, name, seed, seconds, True)
        ok &= plain["result"]["correct"] and traced["result"]["correct"]
        print(f"\n== {name}: {w['why']}")
        print(f"   error_frac {plain['error_frac']:.4f} "
              f"({plain['result']['failed']} of {plain['result']['attempted']} failed)")
        overhead = {}
        for m in spec["end_to_end"]:
            v = plain["result"]["metrics"][m["name"]]["value"]
            tv = traced["all_metrics"][m["name"]]
            overhead[m["name"]] = tv / v - 1.0
            print(f"   {m['name']:<36} {v:>14.6g} {m['unit']:<6} traced {tv:.6g}"
                  f" (overhead {overhead[m['name']]:+.1%})")
        for k, v in sorted(plain["all_metrics"].items()):
            if k not in plain["result"]["metrics"] and "." not in k:
                print(f"   {k:<36} {v:>14.6g}")
        for m in spec["per_layer"]:
            v = traced["result"]["metrics"][m["name"]]["value"]
            if v:
                print(f"   [layer] {m['name']:<44} {v:>14.6g} {m['unit']}")
        summary[name] = {"untraced": plain["result"], "traced": traced["result"],
                         "error_frac": plain["error_frac"], "tracing_overhead": overhead}
    print(json.dumps({"correct": ok, "workloads": summary}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds like an exception, so every hosting process
    # it started is stopped by the ``finally`` that owns it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "tranquility_spark")):
        print("perfbench: no tranquility_spark package next to perfbench/ — "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload == "all":
        return run_all(spec, args.seed, args.seconds)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    record = run_one(spec, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
