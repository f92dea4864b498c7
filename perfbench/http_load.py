"""The ``http_ingest`` load generator: a closed loop of client threads.

Each client POSTs one generated body at a time to ``/v1/post/{dataSource}``
and waits for the ``{"received", "sent"}`` reply before sending the next.
Every request is recorded with wall-clock start and end, so the server's
spans (same host, same clock) can be linked to it afterwards.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

from perfbench import gen

# warm-up bodies only load the code paths (JSON and Smile parsing, the
# flush's Spark jobs); their size does not matter
WARMUP_BODY_SIZE = 200


def post(port: int, datasource: str, payload: bytes, smile: bool) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        ctype = "application/x-jackson-smile" if smile else "application/json"
        conn.request("POST", f"/v1/post/{datasource}", body=payload,
                     headers={"Content-Type": ctype})
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    try:
        return resp.status, json.loads(body)
    except ValueError:
        return resp.status, {}


class Client(threading.Thread):
    """One sender. Bodies are ``gen.http_body(seed, index, j, size)`` for
    j = 0, 1, ...; the first ``warmup`` requests are small warm-up bodies."""

    def __init__(self, index, port, datasource, smile, seed, body_size, warmup,
                 start_gate: threading.Barrier, deadline_box: dict):
        super().__init__(daemon=True)
        self.index, self.port, self.datasource, self.smile = index, port, datasource, smile
        self.seed, self.body_size, self.warmup = seed, body_size, warmup
        self.start_gate, self.deadline_box = start_gate, deadline_box
        self.requests: list[dict] = []
        self.error: Exception | None = None

    def _one(self, j: int, warm: bool) -> None:
        size = WARMUP_BODY_SIZE if warm else self.body_size
        body = gen.http_body(self.seed, self.index, j, size)
        payload = gen.render_body(body, int(time.time() * 1000), self.smile)
        start = time.time()
        try:
            status, reply = post(self.port, self.datasource, payload, self.smile)
        except OSError:  # a refused or dropped connection is a failed request
            status, reply = 0, {}
        end = time.time()
        result = reply.get("result", {})
        self.requests.append(
            {
                "client": self.index, "datasource": self.datasource, "warmup": warm,
                "start": start, "end": end, "status": status, "bytes": len(payload),
                "events": len(body), "expected_sent": gen.expected_sent(body),
                "unparseable": sum(e["timestamp"] == gen.UNPARSEABLE for e in body),
                "received": result.get("received"), "sent": result.get("sent"),
            }
        )

    def run(self) -> None:
        try:
            for j in range(self.warmup):
                self._one(j, True)
            self.start_gate.wait(timeout=300)
            deadline = self.deadline_box["deadline"]
            j = self.warmup
            while time.time() < deadline:
                self._one(j, False)
                j += 1
        except Exception as exc:  # noqa: BLE001 — reported by run_load
            self.error = exc
            self.start_gate.abort()


def run_load(port: int, seed: int, seconds: float, datasources: list[str],
             clients_per_ds: int, body_size: int, warmup: int,
             between=lambda: None) -> tuple[list[dict], float]:
    """Warm up, call ``between()`` once every client has warmed up, then
    run the closed loop for ``seconds``. Returns every request and the
    start of the timed window. A client starts no request after the window
    closes, and every request it started runs to completion."""
    n = len(datasources) * clients_per_ds
    box: dict = {}

    def open_window():
        between()
        box["start"] = time.time()
        box["deadline"] = box["start"] + seconds

    gate = threading.Barrier(n, action=open_window)
    # one warm-up sender per dataSource: a second one would only queue on
    # the dataSource's lock behind the first
    clients = [
        Client(i, port, datasources[i % len(datasources)], i % 4 == 3, seed, body_size,
               warmup if i < len(datasources) else 0, gate, box)
        for i in range(n)
    ]
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=seconds + 300)
    errors = [c.error for c in clients if c.error is not None]
    if errors or any(c.is_alive() for c in clients):
        raise RuntimeError(f"load generator failed: {errors or 'client still running'}")
    return [r for c in clients for r in c.requests], box["start"]
