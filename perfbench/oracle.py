"""Reference computations and the statistics the benchmark reports.

Nothing here imports pyspark: the oracles are independent of the program.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

HOUR_MS = 3600_000
MINUTE_MS = 60_000


def median(values: list[float]) -> float:
    return float(np.median(values)) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that leaves at least ``beyond`` samples above
    it, as (value, percentile, sample count).

    With n samples the nearest-rank value at rank n - beyond has exactly
    ``beyond`` samples above it (ties aside); its percentile is
    100 * (n - beyond) / n. Below 2 * ``beyond`` samples that would fall
    under the median, so the sample supports no tail and the median is
    returned, as percentile 50.
    """
    n = len(values)
    rank = n - beyond
    if rank < math.ceil(n / 2):
        return median(values), 50.0, n
    return sorted(values)[rank - 1], 100.0 * rank / n, n


# ---------------------------------------------------------------------------
# stream_rollup
# ---------------------------------------------------------------------------

STREAM_KEYS = ["segment_start", "ts", "page", "country"]


def stream_rollup_oracle(
    files: list[pd.DataFrame], watermark_ms: int
) -> tuple[pd.DataFrame, dict]:
    """Batch rollup of the events a file-by-file streaming rollup commits.

    One file is one micro-batch k. Its eviction watermark is the largest
    event time of files 0..k-1 minus ``watermark_ms``; Spark drops a late
    row against the eviction watermark of the previous batch (none for the
    first two batches), when the row's hourly window ends at or before it.
    A kept row whose window the current watermark has already closed would
    be emitted twice; the inputs are built so that none exists, and
    ``stats["kept_after_close"]`` proves it. After the last file the final
    watermark closes every window that ends at or before it; later windows
    stay open and are not emitted. Output: one row per (hour bucket,
    minute, page, country) with count and long sums.
    """
    kept, dropped, after_close = [], 0, 0
    max_ts, wm_prev, wm = None, None, None
    for f in files:
        ts = f["timestamp"].to_numpy()
        window_end = (ts // HOUR_MS + 1) * HOUR_MS
        keep = np.ones(len(ts), bool) if wm_prev is None else window_end > wm_prev
        if wm is not None:
            after_close += int((keep & (window_end <= wm)).sum())
        dropped += int((~keep).sum())
        kept.append(f[keep])
        if len(ts):
            max_ts = int(ts.max()) if max_ts is None else max(max_ts, int(ts.max()))
        wm_prev, wm = wm, max_ts - watermark_ms
    ev = pd.concat(kept, ignore_index=True)
    final_wm = max_ts - watermark_ms
    bucket = ev["timestamp"] // HOUR_MS * HOUR_MS
    ev = ev[(bucket + HOUR_MS <= final_wm).to_numpy()]
    out = (
        ev.assign(
            segment_start=ev["timestamp"] // HOUR_MS * HOUR_MS,
            ts=ev["timestamp"] // MINUTE_MS * MINUTE_MS,
        )
        .groupby(STREAM_KEYS, as_index=False)
        .agg(n=("added", "size"), added=("added", "sum"), deleted=("deleted", "sum"))
    )
    stats = {
        "events": int(sum(len(f) for f in files)),
        "dropped_by_watermark": dropped,
        "kept_after_close": after_close,
        "events_in_closed_windows": int(len(ev)),
        "rows": int(len(out)),
        "final_watermark_ms": int(final_wm),
    }
    return out, stats


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Row-for-row equality after sorting on ``keys``; returns problems."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: got {sorted(got.columns)} want {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count: got {len(got)} want {len(want)}"]
    cols = sorted(want.columns)
    g = got[cols].sort_values(keys, ignore_index=True)
    w = want[cols].sort_values(keys, ignore_index=True)
    bad = [c for c in cols if not (g[c].to_numpy() == w[c].to_numpy()).all()]
    return [f"values differ in {bad}"] if bad else []


# ---------------------------------------------------------------------------
# catalog_mix: spark result vs DuckDB oracle, the repository's parity rule
# (row count, column names, order-insensitive exact values)
# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif kind.lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif kind.startswith("float"):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (bytes, bytearray))
        ).any():
            df[c] = df[c].map(lambda v: bytes(v).hex() if isinstance(v, (bytes, bytearray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def parity_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"row count: spark={len(got)} oracle={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    bad = []
    for c in g.columns:
        eq = (g[c] == w[c]) | (g[c].isna() & w[c].isna())
        if not eq.all():
            bad.append(f"{c}: {int((~eq).sum())} mismatches")
    return bad
