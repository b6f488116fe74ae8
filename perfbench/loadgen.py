"""Closed-loop HTTP load generator, run as its own process so the clients
do not share the server's interpreter.

    python3 perfbench/loadgen.py --port P --requests in.json --seconds S --out out.json

``in.json`` holds one request list per client, each request
``[route, path]``. Each client thread sends its next request only after
the previous reply arrived, until ``--seconds`` have passed, and records
``[client, index, route, status, latency_ms, body]`` per request into
``out.json``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time


def client(port: int, cid: int, requests: list, deadline: float, out: list) -> None:
    for i, (route, path) in enumerate(requests):
        if time.perf_counter() >= deadline:
            return
        t = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            status, body = resp.status, resp.read().decode()
        except (OSError, http.client.HTTPException) as exc:
            status, body = 0, json.dumps({"error": repr(exc)})
        finally:
            conn.close()
        out.append([cid, i, route, status, (time.perf_counter() - t) * 1e3, body])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.requests) as f:
        per_client = json.load(f)
    records: list = []
    deadline = time.perf_counter() + args.seconds
    threads = [
        threading.Thread(target=client, args=(args.port, cid, reqs, deadline, records))
        for cid, reqs in enumerate(per_client)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        json.dump(records, f)


if __name__ == "__main__":
    main()
