"""Open-loop heartbeat generator for app_ingest, run as its own process.

    python3 loadgen.py --port P --path heartbeats --seed N --rate R
                       --apps A --malformed F --stop FILE --out results.json

Sends the events of ``gen.events`` one request at a time, event
``i`` due at ``start + i / rate`` whatever the previous request cost,
until the file ``--stop`` appears (or ``MAX_SECONDS`` pass).
Each body carries ``created``, the wall-clock stamp taken just before it
is sent. Writes one record per event: due, sent and acknowledged times
(wall clock, seconds) and the HTTP status.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

MAX_SECONDS = 150


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--path", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--stop", required=True)
    ap.add_argument("--apps", type=int, required=True)
    ap.add_argument("--malformed", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    evs = gen.events(a.seed, int(a.rate * MAX_SECONDS), a.apps, a.malformed)
    conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
    out = []
    start = time.time() + 0.05
    for i, ev in enumerate(evs):
        if os.path.exists(a.stop):
            break
        due = start + i / a.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        sent = time.time()
        body = json.dumps({**ev, "created": sent, "ts": _iso(sent)})
        try:
            conn.request("POST", f"/{a.path}", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            resp.read()
            status = resp.status
        except OSError as exc:
            status = f"error: {exc!r}"
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
        out.append({**ev, "due": due, "sent": sent, "acked": time.time(), "status": status})
    conn.close()
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


def _iso(t: float) -> str:
    """UTC ISO-8601 with microseconds, the form Spark casts to timestamp."""
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t)) + f".{int(t * 1e6) % 1_000_000:06d}"


if __name__ == "__main__":
    sys.exit(main())
