"""The benchmark's workloads: inputs from a seed, set-up, timed window and
oracle checks, each against the public API of ``mindb_spark``.

Every workload function takes a :class:`perfbench.run.Run`, does the
set-up and returns a :class:`Plan`: ``window(seconds)`` runs the timed
loop and returns its records, ``score(records)`` checks them against the
oracle and fills ``run.e2e`` (end-to-end metrics), ``run.detail`` and the
failure counts, and ``close()`` releases what the set-up started.
``run.py`` owns the process, the environment and the output.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

from perfbench import stats as S

DIM = 64
CLUSTERS = 32
FINAL_TOP_K = 20
N_QUERIES = 200            # held-out query vectors per vector workload
RECALL_FLOOR = 0.95        # below this the run is not correct
POINT_ROWS = 30_000        # point_serve corpus
POINT_BUDGET = 512 << 20   # resident budget: the snapshot fits
POINT_RATE = 125.0         # open-loop requests per second
POINT_OPEN_SHARE = 0.4     # of the window; the closed loop gets the rest
REST_LIMIT_S = 0.065       # the reference's REST latency bound
SCAN_ROWS = 30_000         # batch_scan corpus
SCAN_BUDGET = 4 << 20      # resident budget below the snapshot size
SCAN_TAIL = 600            # rows added after train: the exact-searched tail
SCAN_BATCH = 8             # queries per Engine.batch_query call
SCAN_WARM_BATCHES = 3      # warm-up batches; after one, a later window ran 14-19% faster
DB_NAME = "bench"


@dataclass
class Plan:
    window: Callable[[float], list]
    score: Callable[[list], None]
    close: Callable[[], None] = lambda: None


# ------------------------------------------------------------------ inputs
def gaussian_corpus(seed: int, n: int, n_queries: int = N_QUERIES):
    """Seeded Gaussian clusters: ``n`` corpus rows and held-out queries,
    nine in ten drawn from the clusters and one in ten from a broad
    Gaussian (queries with no near neighbour).

    The cluster centres are a random orthonormal set scaled to a common
    norm, and every cluster gets the same number of rows. The seed then
    rotates the geometry and draws the points, but every seed gives the
    engine the same amount of work per query: equal cell sizes and equal
    centre distances."""
    rng = np.random.default_rng(seed)
    basis, _ = np.linalg.qr(rng.normal(size=(DIM, CLUSTERS)))
    centers = basis.T * (3.0 * np.sqrt(DIM))
    lab = rng.permutation(np.arange(n) % CLUSTERS)
    x = (centers[lab] + rng.normal(size=(n, DIM))).astype(np.float32)
    qlab = rng.permutation(np.arange(n_queries) % CLUSTERS)
    q = centers[qlab] + rng.normal(size=(n_queries, DIM))
    broad = np.zeros(n_queries, dtype=bool)
    broad[rng.choice(n_queries, n_queries // 10, replace=False)] = True
    q[broad] = rng.normal(size=(int(broad.sum()), DIM)) * 3.0
    return x, lab, q.astype(np.float32)


def add_payload(x: np.ndarray, lab: np.ndarray, first_row: int = 0):
    return [
        (x[i], {"row": first_row + i, "cluster": int(lab[i])})
        for i in range(x.shape[0])
    ]


def user_bytes(payload) -> int:
    """float32 vectors plus metadata JSON: what the user handed over."""
    return sum(v.size * 4 + len(json.dumps(m)) for v, m in payload)


def exact_top_k(live: np.ndarray, live_ids: np.ndarray, q: np.ndarray, k: int):
    """Brute-force cosine top-k over the live set, ties broken by id."""
    xn = live / np.linalg.norm(live, axis=1, keepdims=True)
    qn = q.astype(np.float64)
    qn = qn / np.linalg.norm(qn, axis=1, keepdims=True)
    scores = qn @ xn.T.astype(np.float64)
    out = []
    for row in scores:
        part = np.argpartition(-row, k)[: k + 32]
        order = sorted(part, key=lambda j: (-row[j], live_ids[j]))[:k]
        out.append([int(live_ids[j]) for j in order])
    return out


def recall(results, truth) -> float:
    hit = sum(len(set(r) & set(t)) for r, t in zip(results, truth))
    return hit / max(1, sum(len(t) for t in truth))


def result_ok(ids, live: set, k: int) -> bool:
    return len(ids) == k and len(set(ids)) == k and all(i in live for i in ids)


# ------------------------------------------------------------ vector set-up
def vector_setup(run, rows: int, covering: bool, budget: int):
    """get_spark, bulk ingest, train and the resident pin. Returns
    (engine, db, corpus, queries)."""
    from mindb_spark.core.engine import Engine

    with run.phase("gen", spark=False):
        x, lab, q = gaussian_corpus(run.seed, rows)
        payload = add_payload(x, lab)
    run.start_spark()
    engine = Engine(run.spark, base_path=run.db_path)
    with run.phase("ingest"):
        db = engine.create_db(DB_NAME, vector_dimension=DIM)
        ids = engine.add(DB_NAME, payload)
    if ids != list(range(rows)):
        run.fail("ingest assigned unexpected ids")
    with run.phase("train"):
        db.train(covering=covering)
    run.detail["train_s"] = run.phases["train"]["s"]
    with run.phase("pin"):
        pinned = db.enable_resident_serving(max_bytes=budget)
    run.detail["resident_pinned"] = pinned
    run.detail["resident_budget_bytes"] = budget
    info = db.info()
    run.fingerprint["index_params"] = info["index_params"]
    run.fingerprint["query_defaults"] = info["query_defaults"]
    run.fingerprint["measured_recall"] = info["measured_recall"]
    run.user_bytes += user_bytes(payload)
    return engine, db, x, q


def vector_tail_metrics(run, db) -> None:
    run.detail["disk_bytes_per_user_byte"] = (
        S.tree_bytes(run.db_path) / run.user_bytes
    )
    run.detail["data_files"] = db.num_data_files


# ------------------------------------------------------------- point_serve
def point_serve(run) -> Plan:
    from mindb_spark.api.rest import RestServer

    engine, db, x, q = vector_setup(run, POINT_ROWS, True, POINT_BUDGET)
    if not run.detail["resident_pinned"]:
        run.fail("the point_serve snapshot did not fit its resident budget")
    server = RestServer(engine, port=0)
    port = server.start()
    run.setup_done()
    run.detail["resident_mib"] = (db.resident_info() or {"bytes": 0})["bytes"] / 2**20
    path = f"/db/{DB_NAME}/query"
    with run.phase("warmup"):
        for i in range(60):
            body = json.dumps({"query_vector": q[i % len(q)].tolist(),
                               "final_top_k": FINAL_TOP_K}).encode()
            c = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            c.request("POST", path, body, {"Content-Type": "application/json"})
            c.getresponse().read()
            c.close()
    cfg = {
        "host": "127.0.0.1", "port": port, "path": path,
        "queries": q.tolist(), "final_top_k": FINAL_TOP_K,
        "rate": POINT_RATE, "open_threads": run.conns, "conns": run.conns,
    }
    truth = exact_top_k(x, np.arange(POINT_ROWS), q, FINAL_TOP_K)
    live = set(range(POINT_ROWS))

    def window(seconds: float) -> dict:
        c = dict(cfg, open_s=POINT_OPEN_SHARE * seconds,
                 closed_s=(1 - POINT_OPEN_SHARE) * seconds)
        with run.phase("window", window=True):
            return run_loadgen(c, timeout=seconds + 120)

    def score(results: dict) -> None:
        open_recs, closed = results["open"], results["closed"]
        got, want, bad = [], [], 0
        for qi, status, ids in (
            [(r[0], r[4], r[5]) for r in open_recs]
            + [(r[0], r[3], r[4]) for r in closed["records"]]
        ):
            if status != 200 or not result_ok(ids, live, FINAL_TOP_K):
                bad += 1
                continue
            got.append(ids)
            want.append(truth[qi])
        ol = S.open_loop_summary(
            [(r[1], r[2], r[3], r[4] == 200 and result_ok(r[5], live, FINAL_TOP_K))
             for r in open_recs],
            REST_LIMIT_S,
        )
        n_closed = len(closed["records"])
        # send-to-reply time of every request, for the REST overhead split
        client = [r[3] - r[2] for r in open_recs] + [r[2] - r[1] for r in closed["records"]]
        run.detail["client_latency_ms_mean"] = 1e3 * sum(client) / len(client)
        run.count(len(open_recs) + n_closed, bad)
        run.set_recall(recall(got, want))
        lat_ms = [v * 1e3 for v in ol["latency_s"]]
        run.e2e["op_p50_ms"] = S.median(lat_ms)
        run.e2e["ops_per_s"] = n_closed / closed["elapsed_s"]
        run.detail["op_tail"] = S.tail(lat_ms)
        run.detail["latency_limit_ms"] = REST_LIMIT_S * 1e3
        run.detail["limit_miss_frac"] = ol["limit_miss_frac"]
        run.detail["open_loop"] = {"rate": POINT_RATE, "requests": ol["n"],
                                   "threads": run.conns}
        run.detail["closed_loop"] = {"conns": run.conns, "requests": n_closed}
        run.detail["loadgen.late_p99_ms"] = ol["late_p99_s"] * 1e3
        run.detail["loadgen.achieved_rate"] = ol["achieved_rate"]
        run.ops_in_window = len(open_recs) + n_closed
        vector_tail_metrics(run, db)

    return Plan(window, score, server.stop)


def run_loadgen(cfg: dict, timeout: float) -> dict:
    """Run perfbench/loadgen.py as a child process and wait for it."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
    proc = subprocess.Popen(
        [sys.executable, script], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        env=dict(os.environ, PYTHONPATH=""),
    )
    try:
        out, _ = proc.communicate(json.dumps(cfg).encode(), timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    return json.loads(out)


# --------------------------------------------------------------- batch_scan
def batch_scan(run) -> Plan:
    engine, db, x, q = vector_setup(run, SCAN_ROWS, False, SCAN_BUDGET)
    if run.detail["resident_pinned"]:
        run.fail("the batch_scan snapshot fit its resident budget")
    with run.phase("gen_tail", spark=False):
        tail_x, tail_lab, _ = gaussian_corpus(run.seed + 1, SCAN_TAIL, n_queries=1)
        tail_payload = add_payload(tail_x, tail_lab, first_row=SCAN_ROWS)
    with run.phase("tail_add"):
        tail_ids = engine.add(DB_NAME, tail_payload)
    run.user_bytes += user_bytes(tail_payload)
    run.setup_done()
    if tail_ids != list(range(SCAN_ROWS, SCAN_ROWS + SCAN_TAIL)):
        run.fail("tail ingest assigned unexpected ids")
    live_x = np.vstack([x, tail_x])
    live_ids = np.arange(SCAN_ROWS + SCAN_TAIL)
    rng = np.random.default_rng(run.seed + 2)
    batches = [rng.choice(len(q), SCAN_BATCH, replace=False) for _ in range(256)]
    truth = exact_top_k(live_x, live_ids, q, FINAL_TOP_K)
    live = set(int(i) for i in live_ids)

    def one(i: int):
        return engine.batch_query(DB_NAME, q[batches[i % len(batches)]],
                                  final_top_k=FINAL_TOP_K)

    with run.phase("warmup"):
        for i in range(SCAN_WARM_BATCHES):
            one(i)

    def window(seconds: float) -> list:
        recs = []
        with run.phase("window", window=True):
            t_end = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < t_end:
                j0 = run.next_job_id()
                with run.op("core.engine.batch_query"):
                    a = time.perf_counter()
                    res = one(i)
                    b = time.perf_counter()
                recs.append((i, b - a, res, run.next_job_id() - j0))
                i += 1
        return recs

    def score(recs: list) -> None:
        got, want, bad = [], [], 0
        for i, _dt, res, _jobs in recs:
            ok = len(res) == SCAN_BATCH
            for qi, r in zip(batches[i % len(batches)], res):
                ok = ok and result_ok(r["ids"], live, FINAL_TOP_K)
                got.append(r["ids"])
                want.append(truth[qi])
            bad += not ok
        run.count(len(recs), bad)
        run.set_recall(recall(got, want))
        lat_ms = [dt * 1e3 for _i, dt, _r, _j in recs]
        run.e2e["op_p50_ms"] = S.median(lat_ms)
        run.e2e["ops_per_s"] = SCAN_BATCH * len(recs) / (sum(lat_ms) / 1e3)
        run.detail["op_tail"] = S.tail(lat_ms)
        run.detail["batch"] = {"queries_per_batch": SCAN_BATCH,
                               "batches": len(recs), "tail_rows": SCAN_TAIL}
        run.fingerprint["jobs_per_batch"] = sorted({j for *_x, j in recs})
        run.ops_in_window = len(recs)
        vector_tail_metrics(run, db)

    return Plan(window, score)


WORKLOADS = {
    "point_serve": point_serve,
    "batch_scan": batch_scan,
}
