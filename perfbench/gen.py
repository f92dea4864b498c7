"""Seeded input generators. The same seed always gives byte-identical inputs.

Three families:

- HTTP bodies for ``http_ingest``: wikipedia-shaped events whose timestamps
  are stored as millisecond offsets from the moment the body is sent, so
  that the program's wall-clock window filter sees the intended mix. A body
  is rendered to JSON or Smile bytes at send time (``render_body``).
- Parquet files for ``stream_rollup``: epoch-millis events over 4 hours,
  Zipf-skewed page keys, a share of in-watermark out-of-order events and a
  known share arriving far beyond the watermark.
- TPC-H-ish and LLM-pipeline tables for ``catalog_mix`` (and the calibration
  probe's lineitem), in the schema the catalog entries read.

Only numpy and pyarrow are used here; nothing imports pyspark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_PERIOD_MS = 10 * 60_000  # PT10M, the reference's default windowPeriod
UNPARSEABLE = "not-a-timestamp"

_COUNTRIES = ("US", "DE", "FR", "JP")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big query customer "
    "order group filter stream vector"
).split()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _zipf_probs(k: int, a: float) -> np.ndarray:
    p = np.arange(1, k + 1, dtype=np.float64) ** (-a)
    return p / p.sum()


# ---------------------------------------------------------------------------
# http_ingest
# ---------------------------------------------------------------------------

HTTP_LATE_SHARE = 0.05
HTTP_UNPARSEABLE_SHARE = 0.01


def http_body(seed: int, client: int, index: int, size: int) -> list[dict]:
    """Body ``index`` of ``client``: events with ``timestamp`` as an int
    offset in ms from send time, or ``UNPARSEABLE``.

    About 5% of offsets lie 30 min to 3 h away from send time (outside
    windowPeriod PT10M on either side), about 1% are unparseable, and the
    rest lie in [-6 min, +1 min], well inside the window even after the
    seconds a body may wait for the dataSource lock.
    """
    rng = _rng(seed, 1, client, index)
    kind = rng.random(size)
    inside = rng.integers(-6 * 60_000, 60_000, size)
    far = rng.integers(30 * 60_000, 3 * 3600_000, size) * rng.choice((-1, 1), size)
    page = rng.choice(500, size, p=_zipf_probs(500, 1.1))
    user = rng.integers(0, 5000, size)
    country = rng.integers(0, len(_COUNTRIES), size)
    added = rng.integers(0, 1000, size)
    deleted = rng.integers(0, 100, size)
    events = []
    for i in range(size):
        if kind[i] < HTTP_UNPARSEABLE_SHARE:
            ts: int | str = UNPARSEABLE
        elif kind[i] < HTTP_UNPARSEABLE_SHARE + HTTP_LATE_SHARE:
            ts = int(far[i])
        else:
            ts = int(inside[i])
        events.append(
            {
                "timestamp": ts,
                "page": f"page-{page[i]}",
                "user": f"user-{user[i]}",
                "country": _COUNTRIES[country[i]],
                "added": int(added[i]),
                "deleted": int(deleted[i]),
            }
        )
    return events


def expected_sent(body: list[dict]) -> int:
    """The generator's own count of in-window, parseable events."""
    return sum(
        1
        for e in body
        if e["timestamp"] != UNPARSEABLE and abs(e["timestamp"]) <= WINDOW_PERIOD_MS
    )


def _iso_millis(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def render_body(body: list[dict], now_ms: int, smile: bool) -> bytes:
    """Wire bytes of a body sent at ``now_ms``: ISO-8601 timestamps, as a
    JSON array or as one Smile array value."""
    events = [
        {
            **e,
            "timestamp": e["timestamp"]
            if e["timestamp"] == UNPARSEABLE
            else _iso_millis(now_ms + e["timestamp"]),
        }
        for e in body
    ]
    if smile:
        from tranquility_spark.operators.smile_codec import encode_stream

        return encode_stream([events])
    return json.dumps(events, separators=(",", ":")).encode()


# ---------------------------------------------------------------------------
# stream_rollup
# ---------------------------------------------------------------------------

STREAM_T0_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
STREAM_SPAN_MS = 4 * 3600_000
STREAM_OUT_OF_ORDER_SHARE = 0.05
STREAM_BEYOND_WATERMARK_SHARE = 0.005


def stream_events(seed: int, n_events: int, n_files: int, n_pages: int) -> list[pa.Table]:
    """``n_files`` time-ordered files of epoch-millis events over 4 hours.

    - out-of-order: 5% of events move back by up to 5 min, which stays
      inside the 10-minute watermark;
    - beyond the watermark: 0.5% of the events of every file from the
      third on move back by 180 to 240 min. Spark drops a late row against
      the watermark of the previous micro-batch, the one set by the files
      before the previous file. With files of at most 50 minutes, an event
      of file k is at most 100 min after the start of file k-1, so a row
      moved back 180 min or more lies in an hourly window that ended at
      least 10 min before that watermark: the rollup must drop every one.
    """
    if STREAM_SPAN_MS / n_files > 50 * 60_000:
        raise ValueError("each file must span at most 50 minutes")
    rng = _rng(seed, 2)
    ts = np.sort(rng.integers(STREAM_T0_MS, STREAM_T0_MS + STREAM_SPAN_MS, n_events))
    kind = rng.random(n_events)
    ts = np.where(
        kind < STREAM_OUT_OF_ORDER_SHARE, ts - rng.integers(0, 5 * 60_000, n_events), ts
    )
    late = kind > 1.0 - STREAM_BEYOND_WATERMARK_SHARE
    late[: -(-2 * n_events // n_files)] = False  # never in the first two files
    ts = np.where(late, ts - rng.integers(180 * 60_000, 240 * 60_000, n_events), ts)
    page = rng.choice(n_pages, n_events, p=_zipf_probs(n_pages, 1.1))
    table = pa.table(
        {
            "timestamp": pa.array(ts, pa.int64()),
            "page": pa.array([f"page-{p}" for p in page.tolist()], pa.string()),
            "country": pa.array(np.asarray(_COUNTRIES[:2])[rng.integers(0, 2, n_events)]),
            "added": pa.array(rng.integers(0, 1000, n_events), pa.int64()),
            "deleted": pa.array(rng.integers(0, 100, n_events), pa.int64()),
        }
    )
    bounds = np.linspace(0, n_events, n_files + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def write_stream_files(files: list[pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, t in enumerate(files):
        # zero-padded names: the file source orders a backlog by name/mtime
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(t, path)
        os.utime(path, ns=(i * 10**9, i * 10**9))


# ---------------------------------------------------------------------------
# catalog_mix + calibration
# ---------------------------------------------------------------------------


def _ts_us(base: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1_000_000) + offsets_s.astype(np.int64) * 1_000_000
    return pa.array(us, pa.timestamp("us"))


def lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(6_000_000 * sf)
    n_orders, n_parts, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    partkey = rng.integers(0, n_parts, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 1200) + rng.integers(0, 100, n) / 100.0), 2)
    days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.asarray(("R", "A", "N"))[rng.integers(0, 3, n)],
            "l_linestatus": np.asarray(("O", "F"))[rng.integers(0, 2, n)],
            "l_shipdate": _ts_us(dt.datetime(1995, 1, 2), rng.integers(0, days + 1, n) * 86400),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.asarray(("en", "en", "en", "zh", "es", "de", "fr"))[
                rng.integers(0, 7, n)
            ],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the catalog reads, at scale factor ``sf``."""
    rng = _rng(seed, 3)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    order_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    event_span = 30 * 86400
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    labels = rng.integers(0, 10, n_emb)
    emb += 2.0 * rng.normal(size=(10, 64)).astype(np.float32)[labels]
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": np.asarray(
                    ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
                )[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{c} {o}"
                    for c, o in zip(
                        np.asarray(("red", "blue", "green", "small", "large"))[
                            rng.integers(0, 5, n_part)
                        ],
                        np.asarray(("widget", "bolt", "ring", "gear"))[
                            rng.integers(0, 4, n_part)
                        ],
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.asarray(
                    ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
                )[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(1000.0, 400_000.0, n_orders), 2),
                "o_orderdate": _ts_us(
                    dt.datetime(1995, 1, 1), rng.integers(0, order_days + 1, n_orders) * 86400
                ),
                "o_orderpriority": np.asarray(
                    ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
                )[rng.integers(0, 5, n_orders)],
            }
        ),
        "lineitem": lineitem(rng, sf),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
                    + np.sort(rng.integers(0, event_span * 1_000_000, n_events)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(
                    rng.integers(0, max(150, int(15_000 * sf)), n_events), pa.int64()
                ),
                "event_type": np.asarray(("click", "view", "purchase", "signup", "error"))[
                    rng.integers(0, 5, n_events)
                ],
                "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def calibration_lineitem(out_dir: str) -> None:
    """bench.py's scan probe reads an sf0.1 lineitem; this is one of the
    same shape and size, fixed across seeds so probe readings compare."""
    write_tables({"lineitem": lineitem(_rng(0, 4), 0.1)}, out_dir)
