"""Per-layer metrics of a traced run: what gets wrapped, and how the
recorded spans turn into the ``per_layer`` metrics of BENCHMARK.json.

Layers are named after the library's modules. Every metric is reported on
every workload; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

from perfbench import stats as S

# (metric name, unit) in BENCHMARK.json order
PER_LAYER = [
    ("session.start_s", "s"),
    ("index.build.pca_s", "s"),
    ("index.build.coarse_kmeans_s", "s"),
    ("index.build.pq_codebooks_s", "s"),
    ("index.build.encode_write_s", "s"),
    ("index.build.jobs", "count"),
    ("index.build.exec_cpu_s", "s"),
    ("index.build.shuffle_write_bytes", "bytes"),
    ("core.database.recall_gate_s", "s"),
    ("core.database.recall_gate_batches", "count"),
    ("core.database.add_ms", "ms"),
    ("core.database.add_jobs", "count"),
    ("core.database.data_files", "count"),
    ("core.database.query_df_plan_ms", "ms"),
    ("core.resident.build_s", "s"),
    ("core.resident.snapshot_bytes", "bytes"),
    ("core.resident.query_us", "us"),
    ("core.resident.hit_frac", "fraction"),
    ("core.resident.spark_fallback_jobs", "count"),
    ("core.validation.validate_us", "us"),
    ("index.ivf.rank_centroids_chunked_us", "us"),
    ("index.pq.adc_query_tables_us", "us"),
    ("api.rest.dispatch_us", "us"),
    ("api.rest.overhead_ms", "ms"),
    ("index.ivf.fused_frac", "fraction"),
    ("index.ivf.jobs_per_batch", "count"),
    ("index.ivf.stages_per_batch", "count"),
    ("index.ivf.tasks_per_batch", "count"),
    ("index.ivf.exec_run_ms_per_batch", "ms"),
    ("index.ivf.exec_cpu_ms_per_batch", "ms"),
    ("index.ivf.gc_ms_per_batch", "ms"),
    ("index.ivf.shuffle_read_bytes_per_batch", "bytes"),
    ("index.ivf.input_bytes_per_batch", "bytes"),
    ("index.ivf.rows_read_per_result", "count"),
    ("index.ivf.sched_overhead_ms", "ms"),
    ("operators.topk.tail_knn_ms", "ms"),
    ("loadgen.gen_s", "s"),
    ("loadgen.late_p99_ms", "ms"),
    ("loadgen.achieved_rate", "1/s"),
    ("proc.peak_rss_mib", "MiB"),
    ("proc.cpu_s_per_op", "s"),
    ("trace.ops_per_s_untraced", "1/s"),
    ("trace.ops_per_s_traced", "1/s"),
    ("trace.overhead_frac", "fraction"),
    ("trace.self_time_coverage", "fraction"),
]

# span names of the roots of timed ops, per workload
OP_ROOTS = {"api.rest.dispatch", "core.engine.batch_query"}
ACTION = "spark.action"


def install(tracer) -> None:
    """Wrap the public entry points of every layer."""
    from mindb_spark import session
    from mindb_spark.api.rest import RestServer
    from mindb_spark.core import validation
    from mindb_spark.core.database import VectorDB
    from mindb_spark.core.resident import ResidentSnapshot
    from mindb_spark.index import build, ivf, pq
    from mindb_spark.operators import topk
    from pyspark.sql.classic.dataframe import DataFrame

    w = tracer.wrap
    # the blocking Spark actions: their wall is the execution of the plan
    # the calling layer built
    for m in ("collect", "count", "toArrow", "toPandas"):
        w(DataFrame, m, ACTION, spark=True)
    w(session, "get_spark", "session.get_spark")
    # the REST handler sets no job group: a job there is a resident miss,
    # counted from the job-id range of the window instead
    w(RestServer, "dispatch", "api.rest.dispatch")
    w(validation, "validate_query_vectors", "core.validation.validate_query_vectors")
    for m in ("add", "train", "query_df"):
        w(VectorDB, m, f"core.database.{m}", spark=True)
    w(VectorDB, "_recall_gate", "core.database.recall_gate", spark=True)
    w(ResidentSnapshot, "query", "core.resident.query")
    w(ResidentSnapshot, "build", "core.resident.build", spark=True)
    w(build, "build_index", "index.build.build_index", spark=True)
    w(build, "fit_pca", "index.build.fit_pca", spark=True)
    w(build, "train_centroids_subsampling", "index.build.train_centroids", spark=True)
    w(build, "train_centroids_two_level", "index.build.train_centroids", spark=True)
    w(build, "train_pq_on_residuals", "index.build.train_pq_on_residuals", spark=True)
    w(ivf, "search", "index.ivf.search", spark=True)
    w(ivf, "route_fused", "index.ivf.route_fused", keep_result=True)
    w(ivf, "rank_centroids_chunked", "index.ivf.rank_centroids_chunked")
    w(pq, "adc_query_tables", "index.pq.adc_query_tables")
    w(topk, "knn_batch", "operators.topk.knn_batch", spark=True)


def _subtree(spans, root_ids: set) -> list:
    """Every span below (and including) the given span ids."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] in root_ids]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def _sum(spans, key) -> float:
    return sum(st[key] for s in spans for st in s.get("stages", ()))


def _jobs(spans) -> int:
    return sum(len(s.get("jobs", ())) for s in spans)


def per_layer(run) -> dict:
    """All PER_LAYER metrics from the run's spans and details."""
    spans = run.tracer.spans
    # a layer's self time includes the Spark actions it calls
    self_t = S.self_times([s for s in spans if s["name"] != ACTION])
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def total(name, pool=None) -> float:
        return sum(s["t1"] - s["t0"] for s in (pool if pool is not None else by.get(name, ()))
                   if s["name"] == name)

    def self_sum(name, pool) -> float:
        return sum(self_t[s["id"]] for s in pool if s["name"] == name)

    m = {k: 0.0 for k, _u in PER_LAYER}
    m["session.start_s"] = total("session.get_spark")
    m["loadgen.gen_s"] = run.phases.get("gen", {}).get("s", 0.0)

    # --- set-up: index build, recall gate, resident pin, ingest
    builds = by.get("index.build.build_index", [])
    build_sub = _subtree(spans, {s["id"] for s in builds})
    m["index.build.pca_s"] = total("index.build.fit_pca", build_sub)
    m["index.build.coarse_kmeans_s"] = total("index.build.train_centroids", build_sub)
    m["index.build.pq_codebooks_s"] = total("index.build.train_pq_on_residuals", build_sub)
    m["index.build.encode_write_s"] = self_sum("index.build.build_index", build_sub)
    m["index.build.jobs"] = _jobs(build_sub)
    m["index.build.exec_cpu_s"] = _sum(build_sub, "cpu_ns") / 1e9
    m["index.build.shuffle_write_bytes"] = _sum(build_sub, "shuffle_write_bytes")
    trains = by.get("core.database.train", [])
    tsub = _subtree(spans, {s["id"] for s in trains})
    m["core.database.recall_gate_s"] = total("core.database.train") - total("index.build.build_index")
    m["core.database.recall_gate_batches"] = sum(
        1 for s in tsub if s["name"] == "core.database.query_df")
    adds = by.get("core.database.add", [])
    if adds:
        m["core.database.add_ms"] = 1e3 * total("core.database.add") / len(adds)
        m["core.database.add_jobs"] = _jobs(_subtree(spans, {s["id"] for s in adds}))
    m["core.database.data_files"] = run.detail.get("data_files", 0)
    m["core.resident.build_s"] = total("core.resident.build")
    m["core.resident.snapshot_bytes"] = run.detail.get("resident_mib", 0.0) * 2**20

    # --- timed window (traced half): per-op means
    lo, hi = run.traced_window
    ops = [s for s in spans if s["name"] in OP_ROOTS and lo <= s["t0"] <= hi]
    n = max(1, len(ops))
    op_ids = {s["op"] for s in ops}
    osub = [s for s in spans if s["op"] in op_ids]
    m["core.resident.query_us"] = 1e6 * self_sum("core.resident.query", osub) / n
    m["core.validation.validate_us"] = 1e6 * total("core.validation.validate_query_vectors", osub) / n
    m["index.ivf.rank_centroids_chunked_us"] = 1e6 * total("index.ivf.rank_centroids_chunked", osub) / n
    m["index.pq.adc_query_tables_us"] = 1e6 * total("index.pq.adc_query_tables", osub) / n
    dispatch = [s for s in ops if s["name"] == "api.rest.dispatch"]
    if dispatch:
        d_ms = sum(1e3 * (s["t1"] - s["t0"]) for s in dispatch) / len(dispatch)
        m["api.rest.dispatch_us"] = 1e3 * d_ms
        m["api.rest.overhead_ms"] = run.detail["client_latency_ms_mean"] - d_ms
        hits = {s["op"] for s in osub if s["name"] == "core.resident.query"}
        m["core.resident.hit_frac"] = len(hits & op_ids) / len(dispatch)
        # any Spark job in a REST window is a point query that missed the
        # snapshot (both halves of the window)
        m["core.resident.spark_fallback_jobs"] = run.detail["window_jobs"]
    routes = [s["attrs"].get("result") for s in osub if s["name"] == "index.ivf.route_fused"]
    m["index.ivf.fused_frac"] = (sum(1 for r in routes if r) / len(routes)) if routes else 0.0
    m["core.database.query_df_plan_ms"] = 1e3 * self_sum("core.database.query_df", osub) / n
    m["operators.topk.tail_knn_ms"] = 1e3 * total("operators.topk.knn_batch", osub) / n

    # ops of one workload are all of one kind, so osub is their subtree
    batches = [s for s in ops if s["name"] == "core.engine.batch_query"]
    if batches:
        bsub, nb = osub, len(batches)
        stages = [st for s in bsub for st in s.get("stages", ())]
        m["index.ivf.jobs_per_batch"] = _jobs(bsub) / nb
        m["index.ivf.stages_per_batch"] = len(stages) / nb
        m["index.ivf.tasks_per_batch"] = sum(st["tasks"] for st in stages) / nb
        m["index.ivf.exec_run_ms_per_batch"] = _sum(bsub, "run_ms") / nb
        m["index.ivf.exec_cpu_ms_per_batch"] = _sum(bsub, "cpu_ns") / 1e6 / nb
        m["index.ivf.gc_ms_per_batch"] = _sum(bsub, "gc_ms") / nb
        m["index.ivf.shuffle_read_bytes_per_batch"] = _sum(bsub, "shuffle_read_bytes") / nb
        m["index.ivf.input_bytes_per_batch"] = _sum(bsub, "input_bytes") / nb
        results = nb * run.detail["batch"]["queries_per_batch"] * run.final_top_k
        m["index.ivf.rows_read_per_result"] = _sum(bsub, "input_records") / results
        wall_ms = 1e3 * sum(s["t1"] - s["t0"] for s in batches)
        m["index.ivf.sched_overhead_ms"] = (
            wall_ms - _sum(bsub, "run_ms") / run.cpus) / nb

    m["loadgen.late_p99_ms"] = run.detail.get("loadgen.late_p99_ms", 0.0)
    m["loadgen.achieved_rate"] = run.detail.get("loadgen.achieved_rate", 0.0)
    m["proc.peak_rss_mib"] = run.detail["proc.peak_rss_mib"]
    m["proc.cpu_s_per_op"] = run.detail["proc.cpu_s_per_op"]
    m["trace.ops_per_s_untraced"] = run.detail["ops_per_s_untraced"]
    m["trace.ops_per_s_traced"] = run.detail["ops_per_s_traced"]
    m["trace.overhead_frac"] = 1.0 - (
        run.detail["ops_per_s_traced"] / run.detail["ops_per_s_untraced"])
    # share of the op wall that wrapped calls (layers and Spark actions)
    # explain: the op root's own self time is what none of them covers
    m["trace.self_time_coverage"] = S.coverage(osub, ops)
    return m
