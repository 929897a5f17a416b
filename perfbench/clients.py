"""Closed-loop HTTP clients for the analyst_sql workload.

Runs in its own process, so that the clients do not share the server's
interpreter lock.  Each of ``--clients`` threads POSTs the SQL mix to
``/api/db/query`` in its own seeded order, sending the next request only
after the previous reply, until ``--seconds`` have passed.  Every reply
is compared with the expected answer.  Prints one JSON object: the
per-request records ``[name, trace id, latency s, HTTP status, correct,
load1 before the request]``.

    python3 clients.py --port P --seconds S --clients N --seed K --plan FILE
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import threading
import time


def post(port: int, sql: str, trace_id: str) -> tuple[int, object]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/api/db/query", body=json.dumps({"sql": sql}),
                     headers={"Content-Type": "application/json",
                              "X-Trace-Id": trace_id})
        resp = conn.getresponse()
        body = json.loads(resp.read())
        return resp.status, body.get("data") if isinstance(body, dict) else None
    finally:
        conn.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--plan", required=True,
                    help="JSON file: {name: [sql, expected rows]}")
    args = ap.parse_args()
    with open(args.plan) as fh:
        plan = json.load(fh)
    records: list[list] = []
    lock = threading.Lock()
    stop_at = time.perf_counter() + args.seconds

    def client(cid: int) -> None:
        order = sorted(plan)
        random.Random(args.seed * 1009 + cid).shuffle(order)
        i = 0
        while time.perf_counter() < stop_at:
            name = order[i % len(order)]
            trace_id = f"c{cid}-{i}"
            i += 1
            sql, expected = plan[name]
            load1 = os.getloadavg()[0]
            t0 = time.perf_counter()
            try:
                code, data = post(args.port, sql, trace_id)
            except OSError:
                code, data = 0, None
            dt = time.perf_counter() - t0
            with lock:
                records.append([name, trace_id, dt, code, code == 200 and data == expected,
                                load1])

    threads = [threading.Thread(target=client, args=(c,)) for c in range(args.clients)]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    print(json.dumps({"wall": time.perf_counter() - t0, "requests": records}))


if __name__ == "__main__":
    main()
