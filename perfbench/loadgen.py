"""REST load generator, run as its own process by the point_serve workload.

Reads one JSON config object on stdin and writes one JSON result object on
stdout. Two phases, both sending ``POST /db/{name}/query`` with one vector
per request:

- open loop: a fixed schedule of ``rate`` requests per second for
  ``open_s`` seconds, spread round-robin over ``open_threads`` sender
  threads. Each record keeps the due time, the actual send time and the
  completion time, so latency can be charged from the due time.
- closed loop: ``conns`` threads, each sending its next request only after
  the previous reply, until ``closed_s`` seconds have passed.

Every reply's status and result ids are returned for the caller's checks.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time

from stats import due_times  # this script's directory is on sys.path


def _post(host: str, port: int, path: str, body: bytes) -> tuple[int, list]:
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    if resp.status != 200:
        return resp.status, []
    return 200, json.loads(data).get("ids", [])


def _send(cfg: dict, bodies: list, qi: int) -> tuple[int, list]:
    try:
        return _post(cfg["host"], cfg["port"], cfg["path"], bodies[qi])
    except (OSError, http.client.HTTPException, ValueError):
        return 0, []


def open_loop(cfg: dict, bodies: list) -> list:
    k = max(1, int(cfg["open_threads"]))
    dues = due_times(time.perf_counter() + 0.05, cfg["rate"], cfg["open_s"])
    n_slots = len(dues)
    records: list = [None] * n_slots

    def sender(first: int) -> None:
        for i in range(first, n_slots, k):
            due = dues[i]
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            qi = i % len(bodies)
            sent = time.perf_counter()
            status, ids = _send(cfg, bodies, qi)
            done = time.perf_counter()
            records[i] = [qi, due, sent, done, status, ids]

    threads = [threading.Thread(target=sender, args=(j,)) for j in range(k)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def closed_loop(cfg: dict, bodies: list) -> dict:
    records: list = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + cfg["closed_s"]
    ends: list = []

    def client(t: int) -> None:
        j, mine = 0, []
        while time.perf_counter() < deadline:
            qi = (t * 7919 + j) % len(bodies)
            a = time.perf_counter()
            status, ids = _send(cfg, bodies, qi)
            mine.append([qi, a, time.perf_counter(), status, ids])
            j += 1
        with lock:
            records.extend(mine)
            ends.append(time.perf_counter())

    threads = [threading.Thread(target=client, args=(t,)) for t in range(cfg["conns"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"records": records, "elapsed_s": max(ends) - start}


def main() -> int:
    cfg = json.load(sys.stdin)
    bodies = [
        json.dumps({"query_vector": q, "final_top_k": cfg["final_top_k"]}).encode()
        for q in cfg["queries"]
    ]
    out = {"open": open_loop(cfg, bodies), "closed": closed_loop(cfg, bodies)}
    json.dump(out, sys.stdout)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
