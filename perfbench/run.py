#!/usr/bin/env python3
"""Benchmark of mindb_spark's serving and scan paths.

Run from the repository root:

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones (see perfbench/README.md). Every result is checked
against an oracle; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` and the exit code is 0
only when every check passed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # the set-up clock starts with the interpreter

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench-out")    # fingerprints, spans
TMP_DIR = os.path.join(ROOT, ".perfbench-tmp")    # per-run scratch, removed
DRIVER_MEM = "2g"
E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("ops_per_s", "1/s")]


def isolate(run_dir: str, cpus: int) -> dict:
    """Pin everything that made earlier runs of the same code disagree:
    per-run Spark scratch, temp dir and gate-certificate store (all inside
    ``run_dir``, which is removed afterwards), a fixed core count
    and driver heap, single-threaded BLAS in the workers, no progress bar
    and no web UI. Returns the settings for the report."""
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "TMPDIR": tmp,
        # no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "MINDB_SPARK_GATE_CERT_STORE": os.path.join(run_dir, "gate_certs.json"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.enabled=false "
            f"--conf spark.local.dir={os.path.join(run_dir, 'spark-local')} "
            "pyspark-shell"
        ),
    }
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(tmp)
    os.environ.update(env)
    tempfile.tempdir = tmp  # the package zip shipped to the workers
    return env


class Run:
    """State of one benchmark run, shared by the workload code."""

    def __init__(self, args, run_dir: str, cpus: int, tracer):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.tmp = run_dir
        self.db_path = os.path.join(run_dir, "db")
        self.cpus = cpus
        self.conns = max(1, cpus - 1)
        self.tracer = tracer
        self.spark = self.sc = None
        self.phases: dict = {}
        self.e2e: dict = {}
        self.detail: dict = {}
        self.fingerprint: dict = {}
        self.checks: list = []
        self.attempted = self.failed = 0
        self.user_bytes = 0
        self.ops_in_window = 0
        self.traced_window = (0.0, 0.0)
        from perfbench.workloads import FINAL_TOP_K

        self.final_top_k = FINAL_TOP_K

    # ----------------------------------------------------------- timing
    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def phase(self, name: str, spark: bool = True, window: bool = False):
        """Time a phase and remember the Spark job ids it used."""
        j0 = self.next_job_id() if (spark and self.sc) else None
        with self.span(f"phase.{name}", spark=spark):
            t0 = time.perf_counter()
            yield
            t1 = time.perf_counter()
        key, k = name, 2
        while key in self.phases:
            key, k = f"{name}#{k}", k + 1
        self.phases[key] = {"s": t1 - t0, "window": window,
                            "jobs": (j0, self.next_job_id()) if j0 is not None else None}

    def span(self, name: str, spark: bool = False):
        if self.tracer is None or not self.tracer.installed:
            return contextlib.nullcontext()
        return self.tracer.span(name, spark=spark)

    def op(self, name: str):
        if self.tracer is None or not self.tracer.installed:
            return contextlib.nullcontext()
        return self.tracer.span(name, spark=True, new_op=True)

    def start_spark(self) -> None:
        from mindb_spark import session

        with self.phase("session", spark=False):
            self.spark = session.get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.sc

    def setup_done(self) -> None:
        gen = sum(p["s"] for k, p in self.phases.items() if k.startswith("gen"))
        self.e2e["setup_s"] = time.perf_counter() - T0 - gen
        self.detail["gen_s"] = gen

    # ----------------------------------------------------------- checks
    def fail(self, msg: str) -> None:
        self.checks.append(msg)

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.fail(f"{failed} of {attempted} ops failed their check")

    def set_recall(self, r: float) -> None:
        from perfbench.workloads import RECALL_FLOOR

        prev = self.detail.get("recall_at_20")
        self.detail["recall_at_20"] = r if prev is None else min(prev, r)
        if r < RECALL_FLOOR:
            self.fail(f"recall@20 {r:.4f} below {RECALL_FLOOR}")

    # ----------------------------------------------------------- window
    def timed(self, plan) -> None:
        """Run the timed window and score it. A traced run runs the window
        twice, first untraced and then traced, so the two rates give the
        tracing overhead."""
        from perfbench import layers

        halves = [False] if self.tracer is None else [False, True]
        for traced in halves:
            if self.tracer is not None and not traced:
                self.tracer.uninstall()
            if traced:
                layers.install(self.tracer)
            cpu0 = cpu_seconds()
            t0 = time.perf_counter()
            recs = plan.window(self.seconds)
            t1 = time.perf_counter()
            cpu1 = cpu_seconds()
            plan.score(recs)
            rate = self.e2e["ops_per_s"]
            self.detail["ops_per_s_traced" if traced else "ops_per_s_untraced"] = rate
            if traced or self.tracer is None:
                self.traced_window = (t0, t1)
                self.detail["proc.cpu_s_per_op"] = (cpu1 - cpu0) / max(1, self.ops_in_window)
        self.detail["window_jobs"] = self.window_jobs()

    def window_jobs(self) -> int:
        return sum(p["jobs"][1] - p["jobs"][0] for p in self.phases.values()
                   if p["window"] and p["jobs"])


# ------------------------------------------------------------- processes
def _descendants(pid: int) -> list[int]:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds() -> float:
    """User+system CPU of this process and its live descendants (the JVM
    and its Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def peak_rss_mib() -> float:
    """Peak resident memory (VmHWM) of the driver plus its JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kib = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            continue
    return kib / 1024


def stop_spark(run) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    if run is None or run.spark is None:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    run.spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- report
def job_fingerprint(run) -> None:
    from perfbench.tracing import job_counts

    run.fingerprint["phases"] = {
        k: job_counts(run.sc, range(*p["jobs"]))
        for k, p in run.phases.items() if p["jobs"] and not p["window"]
    }


def code_hash() -> str:
    """Hash of the code a run executes: the library and this benchmark."""
    h = hashlib.sha256()
    for top in ("mindb_spark", "perfbench"):
        paths = sorted(os.path.join(d, f) for d, _dirs, fs in os.walk(os.path.join(ROOT, top))
                       for f in fs if f.endswith(".py"))
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def check_fingerprint(run, args) -> None:
    """Compare this run's work fingerprint with earlier runs of the same
    workload and seed on the same code in this checkout; flag any
    difference."""
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, "fingerprints.json")
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    key = f"{args.workload}:{args.seed}:{code_hash()}"
    fp = json.loads(json.dumps(run.fingerprint, sort_keys=True, default=str))
    if key in seen:
        run.detail["fingerprint_repeats"] = seen[key] == fp
    else:
        run.detail["fingerprint_repeats"] = None  # first run of this seed
        seen[key] = fp
        with open(path, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)


def table(run) -> list[str]:
    """All end-to-end metrics of the workload, by name and unit."""
    d = run.detail
    tail = d.get("op_tail")
    rows = [
        ("setup_s", run.e2e.get("setup_s"), "s", ""),
        ("train_s", d.get("train_s"), "s", ""),
        ("op_p50_ms", run.e2e.get("op_p50_ms"), "ms", ""),
        ("op_tail_ms", tail and tail["value"], "ms",
         f"p{tail['p']:g} of {tail['n']} ({tail['beyond']} beyond)" if tail
         else "sample too small for a tail"),
        ("ops_per_s", run.e2e.get("ops_per_s"), "1/s", ""),
        ("failed_frac", run.failed / max(1, run.attempted), "fraction",
         f"{run.failed} of {run.attempted}"),
        ("recall_at_20", d.get("recall_at_20"), "fraction", ""),
        ("resident_mib", d.get("resident_mib") if d.get("resident_pinned") else None,
         "MiB", ""),
        ("disk_bytes_per_user_byte", d.get("disk_bytes_per_user_byte"), "ratio", ""),
        ("write_bytes_per_user_byte", None, "ratio",
         "no workload adds user bytes in its window"),
    ]
    out = []
    for name, v, unit, note in rows:
        val = "n/a" if v is None else f"{v:.6g}"
        out.append(f"  {name:<27} {val:>12} {unit:<9} {note}".rstrip())
    return out


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import mindb_spark
    except ImportError as e:
        print(f"perfbench: cannot import mindb_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(mindb_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: mindb_spark resolved outside {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(TMP_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=TMP_DIR)
    run = None
    try:
        env = isolate(run_dir, cpus)
        tracer = None
        if args.trace:
            from perfbench import layers
            from perfbench.tracing import Tracer

            tracer = Tracer(None)
            layers.install(tracer)
        run = Run(args, run_dir, cpus, tracer)
        plan = WORKLOADS[args.workload](run)
        try:
            run.timed(plan)
        finally:
            plan.close()
        job_fingerprint(run)
        run.detail["proc.peak_rss_mib"] = peak_rss_mib()
        if tracer is not None:
            from perfbench import layers

            tracer.uninstall()
            tracer.spark_metrics()
            metrics = layers.per_layer(run)
            units = dict(layers.PER_LAYER)
            os.makedirs(OUT_DIR, exist_ok=True)
            with open(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump([{k: v for k, v in s.items() if not k.startswith("_")}
                           for s in tracer.spans], f, default=str)
        else:
            metrics, units = {k: run.e2e[k] for k, _u in E2E}, dict(E2E)
        check_fingerprint(run, args)
    finally:
        try:
            stop_spark(run)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(TMP_DIR)

    correct = not run.checks
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("environment: " + json.dumps(env, sort_keys=True))
    print("end-to-end metrics:")
    print("\n".join(table(run)))
    print("work fingerprint: " + json.dumps(run.fingerprint, sort_keys=True, default=str))
    print("detail: " + json.dumps(run.detail, sort_keys=True, default=str))
    print("phases: " + json.dumps({k: round(p["s"], 4) for k, p in run.phases.items()}))
    if run.detail["fingerprint_repeats"] is False:
        print("FINGERPRINT DIFFERS from the first run of this workload and seed on this code "
              f"(stored in {os.path.join(OUT_DIR, 'fingerprints.json')})")
    for msg in run.checks:
        print(f"CHECK FAILED: {msg}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench and mindb_spark from the checkout
    sys.exit(main())
